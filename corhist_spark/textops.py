"""Large-scale training-data text operators over a flat documents
table (doc_id, text): deduplication (exact, MinHash+LSH banding,
SimHash, n-gram Jaccard), language ID, quality scoring, token counting,
fingerprinting, and salted skew-safe aggregation.

All operators are pure column expressions (JVM-side, whole-stage
codegen); hashes are md5 so the DuckDB oracles reproduce them exactly.

Scale notes: shingling explodes rows ~|text| per doc — at 100 TB this
runs as a map-side pipeline into a (band, minhash) shuffle whose keys
are uniformly distributed by construction (hashes).  The LSH candidate
self-join is keyed on (band, minhash) buckets, never all-pairs.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

N_BANDS = 8
SHINGLE = 5

_WORD_RE = re.compile(r"[a-z]{6,}")


@F.pandas_udf(ArrayType(StringType()))
def _find_mentions(text: pd.Series) -> pd.Series:
    return text.map(lambda t: _WORD_RE.findall(t) if t else [])


def mention_counts(docs: DataFrame) -> DataFrame:
    """Arrow-batched pandas-UDF mention detection over flat text:
    (doc_id, mention, n).  Mirrors the regexp_extract_all SQL oracle."""
    return (
        docs.select("doc_id", F.explode(_find_mentions("text")).alias("mention"))
        .groupBy("doc_id", "mention")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def mention_pair_triples(docs: DataFrame) -> DataFrame:
    """The triple-emission shape of extract.emit_triples over flat
    text: consecutive mention pairs (tokens of length >= 6, pandas-UDF
    detected) wired through the document's first cue token (length 4),
    aggregated to (subj, pred, obj, n)."""
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    cues = F.filter(toks, lambda x: F.length(x) == 4)
    d = docs.select(
        "doc_id", _find_mentions("text").alias("ms"), F.get(cues, 0).alias("pred")
    ).filter((F.size("ms") >= 2) & F.col("pred").isNotNull())
    pairs = F.zip_with(
        F.slice("ms", 1, F.greatest(F.size("ms") - 1, F.lit(0))),
        F.slice("ms", 2, F.greatest(F.size("ms") - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("subj"), b.alias("obj")),
    )
    return (
        d.select("pred", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.subj").alias("subj"), "pred", F.col("p.obj").alias("obj"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def spread_small_input(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Tiny-input guard for explode-amplified scans: a 100-TB corpus
    arrives in thousands of file partitions, but a small or compacted
    input can map to FEWER scan partitions than cores, and the 10-40x
    token/shingle explode that follows then pins all the hash work on
    those few tasks (measured at the sf1 tier: 19M shingle hashes on
    2 of 32 cores — 62 s for the HLL sketch, 54 s for the cold
    MinHash signature build, vs ~5 s spread).  Hash-spread the small
    pre-explode input across the session parallelism only in that
    case — at real scale the scan already has more partitions than
    this and the guard is a no-op, never an extra corpus shuffle.
    Result-neutral: a hash repartition reorders rows, nothing else."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        return docs.repartition(target, key)
    return docs


# 52-bit shingle hash: one md5 per shingle, then cheap per-band affine
# permutations (a_b*v + c_b) — 8x fewer hash computations than hashing
# per band.  Spark's conv() and the oracle's strpos-sum decode the same
# 13 hex chars to the same integer.
def hexval_sql(expr: str = "s") -> str:
    """DuckDB transcription of Spark's
    ``CAST(conv(substr(md5(x),1,13),16,10) AS BIGINT)`` (DuckDB 1.x has
    no conv()): decode the first 13 md5 hex chars positionally."""
    return "+".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1))-1)*{16 ** (12 - i)}"
        for i in range(13)
    )


HEXVAL_SQL = hexval_sql("s")


def minhash_signatures(docs: DataFrame, n_bands: int = N_BANDS, n: int = SHINGLE) -> DataFrame:
    """(doc_id, band, minhash): per band b the minimum of
    (2b+1)*h(s) + 7919*b over the doc's shingle hashes h.

    All band minima are computed in ONE per-doc aggregate (map-side
    partial agg over the shingle rows) and unpivoted afterwards —
    exploding rows x n_bands before the shuffle would move 8x the
    data for the same result."""
    docs = spread_small_input(docs)
    sh = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("text") - (n - 1), F.lit(1)))
        ).alias("i"),
    ).select("doc_id", F.expr(f"substr(text, i, {n})").alias("s"))
    hv = sh.select("doc_id", F.expr("CAST(conv(substr(md5(s), 1, 13), 16, 10) AS BIGINT)").alias("v"))
    aggs = [
        F.min((2 * b + 1) * F.col("v") + 7919 * b).alias(f"_m{b}") for b in range(n_bands)
    ]
    per_doc = hv.groupBy("doc_id").agg(*aggs)
    stack = "stack({n}, {pairs}) AS (band, minhash)".format(
        n=n_bands, pairs=", ".join(f"{b}, _m{b}" for b in range(n_bands))
    )
    return per_doc.select("doc_id", F.expr(stack))


MAX_BUCKET = 64


def lsh_candidates(signatures: DataFrame, max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Near-duplicate candidate pairs: docs sharing a (band, minhash)
    bucket.  The join is keyed on the bucket — uniform by hashing.

    Banding hygiene: buckets above ``max_bucket`` occupancy are dropped
    before the self-join.  A degenerate hot bucket is quadratic in its
    occupancy (one 10^6-doc bucket at 100 TB = 5*10^11 pairs on a
    single shuffle key), and a bucket that large signals a boilerplate
    shingle, not near-duplication — true near-dups still collide in the
    other ``N_BANDS - 1`` bands.  Singleton buckets are filtered too
    (they produce no pairs); both filters ride the same (band, minhash)
    partitioning as the join, so no extra shuffle shape is introduced."""
    sizes = signatures.groupBy("band", "minhash").agg(F.count(F.lit(1)).alias("_bc"))
    ok = sizes.filter((F.col("_bc") >= 2) & (F.col("_bc") <= max_bucket)).select(
        "band", "minhash"
    )
    sigs = signatures.join(ok, ["band", "minhash"], "left_semi")
    a = sigs.select("band", "minhash", F.col("doc_id").alias("doc_a"))
    b = sigs.select("band", "minhash", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, ["band", "minhash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard(docs: DataFrame, pairs: DataFrame, n: int = SHINGLE) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs
    (verification stage after LSH).

    Only documents that appear in a candidate pair are shingled: after
    LSH pruning the candidate set is a small fraction of the corpus,
    so re-shingling everything would dominate the verification stage
    at scale.  The semi-join is result-neutral (non-candidate docs
    contribute nothing downstream)."""
    # the candidate set is consumed twice (doc pruning + the intersect
    # join) and is small after bucket capping — cut its LSH lineage
    pairs = pairs.localCheckpoint()
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        docs.join(cand_docs, "doc_id", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("text") - (n - 1), F.lit(1)))
            ).alias("i"),
            "text",
        )
        .select("doc_id", F.expr(f"substr(text, i, {n})").alias("s"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6).alias("jaccard"),
        )
    )


HEX = "0123456789abcdef"


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash): per-bit majority vote over 16-bit token
    hashes.  The token hash is the first 4 hex chars of md5, decoded
    with strpos arithmetic so the SQL oracle matches exactly."""
    toks = docs.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("tok")
    )
    # identical arithmetic to the SQL oracle (instr == strpos, 1-based)
    val = F.expr(
        "(instr('0123456789abcdef', substr(md5(tok),1,1))-1)*4096"
        " + (instr('0123456789abcdef', substr(md5(tok),2,1))-1)*256"
        " + (instr('0123456789abcdef', substr(md5(tok),3,1))-1)*16"
        " + (instr('0123456789abcdef', substr(md5(tok),4,1))-1)"
    )
    withv = toks.select("doc_id", val.alias("v"))
    bitted = withv.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"), "v"
    ).select(
        "doc_id",
        "b",
        F.when(F.expr("CAST(floor(v / CAST(pow(2, b) AS DOUBLE)) AS BIGINT) % 2") == 1, 1)
        .otherwise(-1)
        .alias("vote"),
    )
    return (
        bitted.groupBy("doc_id", "b")
        .agg(F.sum("vote").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("s") > 0, F.expr("CAST(pow(2, b) AS BIGINT)")).otherwise(F.lit(0)))
            .cast("long")
            .alias("simhash")
        )
    )


def salted_counts(df: DataFrame, key: str, n_salts: int = 8) -> DataFrame:
    """Skew-safe aggregation: partial count on (key, salt) then final
    combine — the explicit hot-key pattern (north rule) for keys like
    P31/Q5.  Result is identical to a plain groupBy count."""
    salted = df.withColumn("_salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(n_salts)))
    partial = salted.groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").alias("n"))


# --------------------------------------------------------------------------
# corpus curation: chunking, chunk-level dedup, decontamination,
# repetition stats, stratified sampling
# --------------------------------------------------------------------------

CHUNK_TOKENS = 16


def _token_array():
    return F.filter(F.split("text", " "), lambda x: x != "")


def _chunked(docs: DataFrame, width: int, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *carry, chunk_id, chunk_text, n_toks): fixed-width
    token windows; ``carry`` names extra document columns to keep on
    every chunk row (e.g. ``source`` for per-source boilerplate stats).

    Map-only (split + sequence-explode + slice, all codegen); row
    growth is ~n_tokens/width per doc, far below the shingle explosion
    the dedup family already carries.  Guarded against empty token
    lists — Spark's sequence(0, -1) would DESCEND, not return empty.
    n_toks is emitted here (size of the slice) so callers never
    re-split chunk_text just to count tokens."""
    toks = _token_array()
    d = docs.select("doc_id", *carry, toks.alias("toks"))
    n = F.size("toks")
    ids = F.when(
        n > 0,
        F.sequence(F.lit(0), F.ceil(n / F.lit(float(width))).cast("int") - 1),
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    return d.select("doc_id", *carry, F.explode(ids).alias("chunk_id"), "toks").select(
        "doc_id",
        *carry,
        "chunk_id",
        F.expr(f"array_join(slice(toks, chunk_id*{width}+1, {width}), ' ')").alias(
            "chunk_text"
        ),
        F.expr(f"size(slice(toks, chunk_id*{width}+1, {width}))").alias("n_toks"),
    )


def doc_chunks(docs: DataFrame, width: int = CHUNK_TOKENS) -> DataFrame:
    """Training-sequence chunking: split each document into fixed
    ``width``-token windows — (doc_id, chunk_id, n_chunk_tokens,
    chunk_hash).  The pre-tokenize/pack step of a training-data
    pipeline; entirely map-side, so it scales linearly with corpus
    bytes and never shuffles."""
    ch = _chunked(docs, width)
    return ch.select(
        "doc_id",
        "chunk_id",
        F.col("n_toks").alias("n_chunk_tokens"),
        F.md5("chunk_text").alias("chunk_hash"),
    )


def chunk_dedup(docs: DataFrame, width: int = CHUNK_TOKENS) -> DataFrame:
    """CCNet-style duplicate-chunk removal: a chunk occurrence is
    dropped iff an occurrence of the same chunk text exists at a
    smaller (doc_id, chunk_id) — exactly one canonical copy of every
    repeated chunk survives, and the document text is reassembled from
    the kept chunks in order.

    Returns (doc_id, n_chunks, n_kept, clean_hash) where clean_hash is
    md5 of the reassembled text (NULL when every chunk was dropped).

    Scale shape: one groupBy on chunk_hash (uniform keys — hashes) to
    pick the canonical occurrence, one groupBy on doc_id to
    reassemble.  No self-join, no window sort over the corpus; both
    shuffles are linear in chunk count."""
    ch = _chunked(docs, width).withColumn("h", F.md5("chunk_text"))
    canon = ch.groupBy("h").agg(
        F.min(F.struct("doc_id", "chunk_id")).alias("keep")
    )
    tagged = ch.join(canon, "h").withColumn(
        "is_keep",
        (F.col("doc_id") == F.col("keep.doc_id"))
        & (F.col("chunk_id") == F.col("keep.chunk_id")),
    )
    kept_parts = F.array_sort(
        F.collect_list(
            F.when(F.col("is_keep"), F.struct("chunk_id", "chunk_text"))
        )
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("is_keep").cast("int")).alias("n_kept"),
            kept_parts.alias("_parts"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.when(
                F.col("n_kept") > 0,
                F.md5(
                    F.array_join(
                        F.transform("_parts", lambda s: s["chunk_text"]), " "
                    )
                ),
            ).alias("clean_hash"),
        )
    )


BOILER_MIN_FRAC = 0.25
BOILER_MIN_DOCS = 2


def remove_boilerplate(
    docs: DataFrame,
    width: int = CHUNK_TOKENS,
    min_frac: float = BOILER_MIN_FRAC,
    min_docs: int = BOILER_MIN_DOCS,
) -> DataFrame:
    """Frequency-based boilerplate pruning (the RefinedWeb / CCNet
    line-dedup step, public): a text segment that recurs across many
    DIFFERENT documents of the same source (headers, navigation,
    license banners) is boilerplate — drop every occurrence and
    reassemble the remaining text in order.  Segments are fixed
    ``width``-token windows (the corpus is single-line; on newline-
    delimited text the same shape runs with lines as segments).  A
    segment is boilerplate within its source when it appears in at
    least ``max(min_docs, ceil(min_frac * source_doc_count))``
    distinct documents.

    Differs from chunk_dedup (which keeps ONE canonical copy of every
    repeated chunk): boilerplate removal drops ALL occurrences of
    high-document-frequency segments and leaves low-frequency
    repetition alone.

    Returns (doc_id, n_chunks, n_kept, clean_hash) — chunk_dedup's
    shape, so the two compose in a curation pipeline.

    Scale shape: one groupBy on (source, chunk_hash) for the
    document-frequency count (hash keys — uniform), a broadcast-sized
    per-source total, one anti-join of the chunk stream against the
    (small by construction — df >= a fraction of the source) boiler
    set, one groupBy doc_id to reassemble.  All shuffles linear in
    chunk count; no self-join, no corpus-wide window."""
    ch = _chunked(docs, width, carry=("source",)).withColumn(
        "h", F.md5("chunk_text")
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src_docs"))
    thresh = F.greatest(
        F.lit(min_docs), F.ceil(F.lit(min_frac) * F.col("n_src_docs")).cast("int")
    )
    boiler = (
        ch.groupBy("source", "h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .join(F.broadcast(totals), "source")
        .filter(F.col("df") >= thresh)
        .select("source", "h")
    )
    tagged = ch.join(boiler.withColumn("_b", F.lit(True)), ["source", "h"], "left")
    tagged = tagged.withColumn("is_keep", F.col("_b").isNull())
    kept_parts = F.array_sort(
        F.collect_list(
            F.when(F.col("is_keep"), F.struct("chunk_id", "chunk_text"))
        )
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("is_keep").cast("int")).alias("n_kept"),
            kept_parts.alias("_parts"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.when(
                F.col("n_kept") > 0,
                F.md5(
                    F.array_join(
                        F.transform("_parts", lambda s: s["chunk_text"]), " "
                    )
                ),
            ).alias("clean_hash"),
        )
    )


DECON_NGRAM = 8


def _raw_word_ngrams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, ng): every word n-gram occurrence — map-only, NOT
    deduplicated (a corpus-wide distinct would shuffle the whole
    n-gram stream; dedupe after pruning instead)."""
    toks = _token_array()
    d = docs.select("doc_id", toks.alias("toks"))
    idx = F.when(
        F.size("toks") >= n,
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    return d.select("doc_id", F.explode(idx).alias("i"), "toks").select(
        "doc_id", F.expr(f"array_join(slice(toks, i, {n}), ' ')").alias("ng")
    )


def word_ngrams(docs: DataFrame, n: int = DECON_NGRAM) -> DataFrame:
    """(doc_id, ng): distinct word n-grams per document, joined with a
    single space.  Guarded against docs shorter than n tokens (Spark's
    sequence would descend)."""
    return _raw_word_ngrams(docs, n).distinct()


def decontaminate(
    train: DataFrame, eval_docs: DataFrame, n: int = DECON_NGRAM
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any word ``n``-gram with the held-out evaluation set —
    (doc_id, n_hits, contaminated).

    The eval n-gram set is BROADCAST: benchmark suites are tiny
    relative to a 100 TB corpus, so the contamination check is a
    map-side semi-probe over the RAW training n-gram stream — the
    corpus-side distinct happens only on the surviving matches (a
    vanishing fraction), so the corpus itself never shuffles.
    n_hits counts distinct matching n-grams."""
    ev = F.broadcast(word_ngrams(eval_docs, n).select("ng").distinct())
    hits = (
        _raw_word_ngrams(train, n)
        .join(ev, "ng")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


SUBSTR_WINDOW = 50  # chars per hashed window
SUBSTR_STRIDE = 25  # corpus-side stride (eval side strides by 1)


def substring_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    window: int = SUBSTR_WINDOW,
    stride: int = SUBSTR_STRIDE,
) -> DataFrame:
    """EXACT-SUBSTRING decontamination (the sliding-window form of the
    suffix-array dedup in Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better" — public): flag character spans of
    training documents that appear verbatim in the held-out eval set —
    (doc_id, n_matched_windows, n_contaminated_chars, contaminated).
    Catches partial/copy-paste contamination that word-n-gram overlap
    (decontaminate) misses: a verbatim 80-char quote inside otherwise
    novel text, punctuation-mangled token boundaries, etc.

    Mechanics: every eval document is hashed into ALL ``window``-char
    substrings (stride 1); training documents are hashed at stride
    ``stride`` only.  Any shared substring of length >=
    window + stride - 1 must contain a stride-aligned training window
    that also occurs in the eval stream, so detection is GUARANTEED at
    that length (74 chars at the defaults) and possible down to
    ``window``.  Matched windows are merged into distinct contaminated
    character positions per document.

    Scale shape: the eval side is a benchmark suite — tiny relative to
    a 100 TB corpus even at stride 1 — and BROADCAST, so the corpus
    pays one map-side stride-``stride`` hash pass and never shuffles;
    the per-position explode runs only on MATCHED windows (a vanishing
    fraction).  The corpus-side window stream is len/stride rows per
    doc (4x lighter than the shingle stream the MinHash family already
    carries at the defaults)."""
    text = F.coalesce(F.col("text"), F.lit(""))
    empty_str = "CAST(array() AS array<string>)"
    ev = (
        eval_docs.select(text.alias("t"))
        .select(
            F.explode(
                F.when(
                    F.length("t") >= window,
                    F.expr(
                        f"transform(sequence(1, length(t)-{window - 1}),"
                        f" i -> substring(t, i, {window}))"
                    ),
                ).otherwise(F.expr(empty_str))
            ).alias("w")
        )
        .select(F.md5("w").alias("wh"))
        .distinct()
    )
    wins = F.when(
        F.length("t") >= window,
        F.expr(
            f"transform(sequence(0, CAST(floor((length(t)-{window})/{stride}) AS INT)),"
            f" j -> struct(j*{stride} AS start,"
            f" md5(substring(t, j*{stride}+1, {window})) AS wh))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<struct<start:int,wh:string>>)"))
    tw = (
        train.select("doc_id", text.alias("t"))
        .select("doc_id", F.explode(wins).alias("w"))
        .select("doc_id", F.col("w.start").alias("start"), F.col("w.wh").alias("wh"))
    )
    matched = tw.join(F.broadcast(ev), "wh").localCheckpoint()
    stats = matched.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matched_windows")
    )
    chars = (
        matched.select(
            "doc_id",
            F.explode(F.expr(f"sequence(start, start + {window - 1})")).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("pos").alias("n_contaminated_chars"))
    )
    return (
        train.select("doc_id")
        .join(stats, "doc_id", "left")
        .join(chars, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_matched_windows", F.lit(0)).cast("long").alias("n_matched_windows"),
            F.coalesce("n_contaminated_chars", F.lit(0)).cast("long").alias("n_contaminated_chars"),
            (F.coalesce("n_matched_windows", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def repetition_stats(docs: DataFrame, n: int = 3) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    (doc_id, dup_ngram_frac, top_token_share).

    dup_ngram_frac — fraction of word n-grams that are duplicates of
    an earlier n-gram in the same doc (1 - distinct/total), computed
    entirely inside array expressions (zero shuffle).  top_token_share
    — the most frequent token's share of all tokens, one explode +
    two aggregations keyed by doc_id (uniform)."""
    toks = _token_array()
    d = docs.select("doc_id", toks.alias("toks")).withColumn(
        "grams",
        F.expr(
            f"CASE WHEN size(toks) >= {n} THEN "
            f"transform(sequence(1, size(toks)-{n - 1}), "
            f"i -> array_join(slice(toks, i, {n}), ' ')) "
            "ELSE CAST(array() AS array<string>) END"
        ),
    )
    dup = d.select(
        "doc_id",
        F.when(
            F.size("grams") > 0,
            F.round(
                1.0 - F.size(F.array_distinct("grams")) / F.size("grams").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_ngram_frac"),
    )
    per_tok = (
        d.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(F.max("c") / F.sum("c").cast("double"), 6).alias("top_token_share")
        )
    )
    return dup.join(per_tok, "doc_id", "left").select(
        "doc_id",
        "dup_ngram_frac",
        F.coalesce("top_token_share", F.lit(0.0)).alias("top_token_share"),
    )


def stratified_sample(docs: DataFrame, rate_expr=None) -> DataFrame:
    """Deterministic per-stratum sampling with NO shuffle: keep a row
    iff hash1000(doc_id:source) < its stratum's per-mille rate.  The
    hash is the first 13 hex chars of md5 decoded to an integer mod
    1000 — the same arithmetic the SQL oracle reproduces — so the
    sample is reproducible across engines and runs.

    This is the 100 TB-shaped sampler: a pure map-side filter (rates
    are a closed-form expression or a broadcast lookup), unlike
    exact-quota sampling which needs a per-stratum window sort.
    Default rate: 100 + 50 * (numeric source suffix % 8) per mille;
    a source WITHOUT a numeric suffix falls back to the 100-per-mille
    base rate (the suffix try_cast is coalesced to 0 — previously the
    NULL rate silently excluded the whole stratum)."""
    rate = (
        rate_expr
        if rate_expr is not None
        else 100
        + 50
        * (
            F.coalesce(
                F.regexp_extract("source", r"(\d+)$", 1).try_cast("int"), F.lit(0)
            )
            % 8
        )
    )
    h = F.expr(
        "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', source)), 1, 13), 16, 10) AS BIGINT) % 1000"
    )
    return docs.filter(h < rate).select("doc_id", "source")


PACK_BUDGET = 64
PACK_GROUPS = 32


def sequence_pack(
    docs: DataFrame,
    width: int = CHUNK_TOKENS,
    budget: int = PACK_BUDGET,
    n_groups: int = PACK_GROUPS,
) -> DataFrame:
    """Training-sequence packing (the concat-and-cut step before
    batching): documents are chunked into ``width``-token windows,
    concatenated in (doc_id, chunk_id) order within a pack group, and
    cut into sequences of ~``budget`` tokens.  A chunk is assigned to
    the sequence its STARTING token offset falls in, so sequences may
    overflow by at most ``width - 1`` tokens — chunks are never split.
    Returns (pack_group, seq_id, n_chunks, n_tokens, seq_hash).

    Scale shape: the only shuffle is the window over pack_group — and
    the group count is a parallelism knob.  On a real corpus you would
    use the input partition id as the group (packing is order-agnostic
    between groups, so co-partitioned packing needs NO shuffle at
    all); doc_id % n_groups here keeps the grouping reproducible in
    the SQL oracle."""
    from pyspark.sql import Window

    ch = _chunked(docs, width).select(
        "doc_id",
        "chunk_id",
        "chunk_text",
        "n_toks",
        (F.col("doc_id") % n_groups).alias("pack_group"),
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = ch.withColumn(
        "seq_id", F.floor((F.sum("n_toks").over(w) - F.col("n_toks")) / budget)
    )
    parts = F.array_sort(
        F.collect_list(F.struct("doc_id", "chunk_id", "chunk_text"))
    )
    return (
        seq.groupBy("pack_group", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_toks").alias("n_tokens"),
            F.md5(
                F.array_join(F.transform(parts, lambda s: s["chunk_text"]), " ")
            ).alias("seq_hash"),
        )
    )


def unigram_nll(docs: DataFrame) -> DataFrame:
    """CCNet-style language-model quality proxy: per-document mean
    negative log-likelihood under the corpus's own unigram
    distribution — (doc_id, n_tokens, mean_nll).  High mean_nll =
    rare-token-heavy (gibberish/noise), low = stopword-heavy
    boilerplate; both tails are what quality filters cut.

    Scale shape: pass 1 is a token-frequency aggregate (map-side
    combine, uniform-ish keys); pass 2 joins the token stream against
    the frequency table.  The frequency table has one row per DISTINCT
    token (Zipf: millions of rows even at 100 TB — broadcastable in
    practice, shuffle-joinable otherwise; hot stopword keys are probe-
    side skew only, which AQE splits).  mean_nll is rounded to 6
    decimals for cross-engine comparison."""
    toks = docs.select("doc_id", F.explode(_token_array()).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = freq.agg(F.sum("tf").alias("total"))
    scored = toks.join(freq, "tok").crossJoin(F.broadcast(total))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("tf") / F.col("total"))), 6).alias("mean_nll"),
        )
    )


BIGRAM_ADD_K = 0.1


def bigram_nll(docs: DataFrame, k: float = BIGRAM_ADD_K) -> DataFrame:
    """Bigram language-model quality score with add-k smoothing —
    (doc_id, n_bigrams, mean_nll): per-document mean negative
    log-likelihood of each token given its predecessor, under the
    corpus's own bigram statistics.

    P(w2|w1) = (C(w1 w2) + k) / (C(w1 ·) + k·V), where C(w1 ·) counts
    w1 as a bigram START (so the conditional normalizes exactly) and V
    is the corpus vocabulary size.  A sharper signal than the unigram
    proxy (unigram_nll): token-salad with plausible word frequencies
    scores high here because its TRANSITIONS are improbable, while
    boilerplate scores low — the two tails quality filters cut.

    Scale shape mirrors unigram_nll one order up: pass 1 aggregates
    bigram and bigram-start counts (map-side combine); pass 2 joins the
    bigram stream against both tables (Zipf-sized — broadcastable in
    practice, shuffle-joinable otherwise; hot stopword-pair keys are
    probe-side skew, which AQE splits) plus the broadcast 1-row vocab
    scalar.  Docs with < 2 tokens have no bigrams and drop out, same as
    token-less docs under unigram_nll.  mean_nll rounds to 6 decimals
    for cross-engine comparison."""
    toks = docs.select("doc_id", _token_array().alias("toks"))
    bg = (
        toks.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks)-1),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    bf = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("bc"))
    uf = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("uc"))
    vocab = (
        docs.select(F.explode(_token_array()).alias("tok"))
        .agg(F.countDistinct("tok").alias("vsz"))
    )
    scored = bg.join(bf, ["w1", "w2"]).join(uf, "w1").crossJoin(F.broadcast(vocab))
    nll = -F.log(
        (F.col("bc") + F.lit(k)) / (F.col("uc") + F.lit(k) * F.col("vsz"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg(nll), 6).alias("mean_nll"),
    )


DSIR_BUCKETS = 4096
DSIR_ALPHA = 0.5


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
    alpha: float = DSIR_ALPHA,
) -> DataFrame:
    """DSIR-style importance-weighted data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    public) — (doc_id, n_feats, log_weight, selected): score every raw
    document by its per-feature mean log importance weight
    ln(p_target(b)) - ln(p_raw(b)) under bag-of-hashed-ngram models of
    the TARGET domain vs the RAW corpus, and flag documents that look
    more target-like than raw-like.

    Features are word unigrams AND bigrams hashed into ``n_buckets``
    via the repo's cross-engine md5 hash (the paper's hashed n-gram
    generative model); bucket probabilities are add-``alpha``-smoothed
    frequencies from exact integer counts.  ``selected`` is the
    deterministic threshold variant (log_weight > 0, i.e. the doc is
    literally more probable under the target model); the paper's
    Gumbel-top-k resampling needs per-doc noise — feed ``log_weight``
    into stratified_sample's hash-threshold machinery for that, the
    score column is the reusable part.  log_weight rounds to 6 decimals
    for cross-engine comparison (the bigram_nll convention).

    Scale shape: two feature streams (raw, target) aggregate to AT MOST
    ``n_buckets`` rows each — map-side combine does almost all the
    work, and the per-bucket log-ratio table is broadcast-sized by
    construction, as are the two 1-row totals.  The scoring pass is the
    feature stream joined against that broadcast table and re-grouped
    by doc_id: linear in corpus tokens, no self-join, no global sort —
    the selection threshold is per-doc, NOT a corpus-wide quantile
    (which would need a second full pass or a sketch at 100 TB).

    Docs with zero tokens have no features and drop out (the
    unigram_nll/bigram_nll convention)."""
    toks = docs.select("doc_id", _token_array().alias("toks")).filter(
        F.size("toks") > 0
    )
    feats = toks.select(
        "doc_id",
        F.explode(
            F.concat(
                F.col("toks"),
                F.when(
                    F.size("toks") >= 2,
                    F.expr(
                        "transform(sequence(1, size(toks)-1),"
                        " i -> concat(toks[i-1], ' ', toks[i]))"
                    ),
                ).otherwise(F.expr("CAST(array() AS array<string>)")),
            )
        ).alias("feat"),
    )
    fb = feats.select(
        "doc_id",
        F.expr(
            f"CAST(conv(substr(md5(feat), 1, 13), 16, 10) AS BIGINT) % {n_buckets}"
        ).alias("b"),
    )
    tgt_ids = target.select("doc_id").distinct()
    tb = fb.join(tgt_ids, "doc_id", "left_semi")
    rc = fb.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tc = tb.groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    rtot = fb.agg(F.count(F.lit(1)).alias("rn"))
    ttot = tb.agg(F.count(F.lit(1)).alias("tn"))
    ratios = (
        rc.join(tc, "b", "left")
        .crossJoin(F.broadcast(rtot))
        .crossJoin(F.broadcast(ttot))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(alpha))
                    / (F.col("tn") + F.lit(alpha * n_buckets))
                )
                - F.log(
                    (F.col("cr") + F.lit(alpha))
                    / (F.col("rn") + F.lit(alpha * n_buckets))
                )
            ).alias("lw"),
        )
    )
    scored = fb.join(F.broadcast(ratios), "b")
    out = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_feats"),
        F.round(F.avg("lw"), 6).alias("log_weight"),
    )
    return out.select(
        "doc_id", "n_feats", "log_weight", (F.col("log_weight") > 0).alias("selected")
    )


def source_mixing(docs: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Data-mixing stage: temperature-weighted source proportions for
    training-set composition (the mT5-style upsampling rule) —
    (source, n_docs, n_tokens, weight, rate).

    weight_s = tokens_s^alpha / sum_t tokens_t^alpha; rate_s is the
    per-source keep/upsample rate that realizes the mixture at the
    full-corpus token budget, capped at 1.0 (no upsampling here —
    feeding rate into stratified_sample closes the loop).  alpha < 1
    flattens the mixture toward low-resource sources.

    Scale shape: one per-source aggregate (20-ish rows at any corpus
    size) + a broadcast of the two scalar totals — nothing here grows
    with the corpus."""
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_token_array())).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum(F.pow("n_tokens", alpha)).alias("s_pow"),
        F.sum("n_tokens").alias("s_tok"),
    )
    w = F.when(F.col("s_pow") > 0, F.pow("n_tokens", alpha) / F.col("s_pow")).otherwise(
        F.lit(0.0)
    )
    # a token-less source gets rate 0 (nothing to sample) — the CASE
    # guards also keep ANSI mode from raising DIVIDE_BY_ZERO on the
    # n_tokens = 0 divisor
    rate = F.when(
        F.col("n_tokens") > 0,
        F.least(F.lit(1.0), w * F.col("s_tok") / F.col("n_tokens")),
    ).otherwise(F.lit(0.0))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(w, 6).alias("weight"),
        F.round(rate, 6).alias("rate"),
    )


def corpus_profile(docs: DataFrame) -> DataFrame:
    """Corpus profiling: per-source document-length quantiles —
    (source, n_docs, p50_tokens, p90_tokens, p99_tokens).

    Uses EXACT percentiles (linear interpolation — the same estimator
    DuckDB's quantile_cont uses, so the oracle matches bit-for-bit
    after round-6).  At 100 TB swap F.percentile for
    F.approx_percentile (map-side t-digest sketch, no full sort);
    test_corpus_ops pins the approximation against the exact values
    so the swap is a one-line change with a known error bound."""
    n = F.size(_token_array())
    d = docs.select("source", n.alias("n_toks"))
    # one array-percentile aggregate: all three quantiles share a
    # single per-group buffer and sort instead of three
    ps = F.percentile("n_toks", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), ps.alias("_ps"))
        .select(
            "source",
            "n_docs",
            F.round(F.col("_ps")[0], 6).alias("p50_tokens"),
            F.round(F.col("_ps")[1], 6).alias("p90_tokens"),
            F.round(F.col("_ps")[2], 6).alias("p99_tokens"),
        )
    )


def token_cardinality(docs: DataFrame) -> DataFrame:
    """Vocabulary cardinality per source — (source, n_tokens,
    n_distinct), exact.

    Exact count-distinct shuffles every (source, token) pair; at
    100 TB the right tool is approx_count_distinct (HyperLogLog++,
    pure map-side partial aggregation).  The exact form is kept as the
    driver-oracle query; test_corpus_ops pins the HLL estimate within
    its error bound against this exact answer."""
    toks = docs.select("source", F.explode(_token_array()).alias("tok"))
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
    )


# --- PII detection / redaction -------------------------------------------

# Patterns restricted to syntax RE2 (DuckDB) and java.util.regex (Spark
# executors) treat identically: character classes, greedy +/{m,n}, no
# word boundaries, no lookaround.  Both engines are leftmost matchers
# and these alternation-free greedy patterns yield identical spans.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+[0-9]{7,15}"


def pii_stats(docs: DataFrame) -> DataFrame:
    """PII scan + redaction over the text column — (doc_id, n_emails,
    n_phones, redacted_hash): match counts per pattern and the md5 of
    the text with every match replaced by a typed placeholder (emails
    first, then phones; the placeholders contain no digits, so the
    phone pass cannot match inside an email replacement).

    Map-only (zero shuffle) and JVM-side — the 100 TB shape: a scrub
    pass is a projection, never an aggregation.  A real pipeline adds
    more pattern families (SSNs, IP addresses, street addresses); the
    plumbing is identical per family."""
    text = F.coalesce(F.col("text"), F.lit(""))
    # phones are counted on the EMAIL-REDACTED text — the same string
    # the phone replacement pass actually runs on — so n_phones always
    # equals the number of <PHONE> placeholders emitted (a +digit run
    # inside an email local part is neither counted nor redacted)
    email_redacted = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(email_redacted, PHONE_RE, "<PHONE>")
    # NB: patterns go through the Python API (F.lit), NOT F.expr — a
    # SQL string literal would eat the backslash escapes ('\.' -> '.')
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(
            F.regexp_extract_all(email_redacted, F.lit(PHONE_RE), F.lit(0))
        ).alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


# --- Winnowing fingerprints (Schleimer et al. 2003, public) ---------------

WINNOW_K = 3  # tokens per k-gram
WINNOW_W = 4  # k-grams per window


def winnow_fingerprints(
    docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """MOSS-style winnowing document fingerprints — (doc_id,
    n_fingerprints, fp_hash): hash every k-token gram, slide a
    w-gram window, keep each window's MINIMUM hash; the fingerprint
    set is the distinct minima (guaranteed to share a member between
    any two documents with a sufficiently long common token run —
    the local-sampling property that makes winnowing the standard
    near-copy detector).

    Deviation from the paper: ties keep the min VALUE (the paper keeps
    the rightmost minimal position); set-identical under distinct
    hashes, and deterministic across engines either way.

    Entirely in-array (map-only, zero shuffle): grams, hashes and
    window minima never leave their row.  Documents shorter than k
    tokens have no grams (empty fingerprint, NULL hash); shorter than
    k+w-1 tokens yield a single whole-array window."""
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "), lambda x: x != ""
    )
    d = docs.select("doc_id", toks.alias("toks"))
    grams = F.when(
        F.size("toks") >= k,
        F.expr(
            f"transform(sequence(1, size(toks)-{k - 1}),"
            f" i -> concat_ws(' ', slice(toks, i, {k})))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    d = d.select("doc_id", grams.alias("grams"))
    d = d.select(
        "doc_id",
        F.expr(
            "transform(grams, g -> CAST(conv(substr(md5(g), 1, 13), 16, 10) AS BIGINT))"
        ).alias("hs"),
    )
    minima = F.when(
        F.size("hs") > 0,
        F.expr(
            f"transform(sequence(1, greatest(size(hs)-{w - 1}, 1)),"
            f" i -> array_min(slice(hs, i, {w})))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))
    d = d.select("doc_id", F.array_sort(F.array_distinct(minima)).alias("fps"))
    return d.select(
        "doc_id",
        F.size("fps").alias("n_fingerprints"),
        F.when(
            F.size("fps") > 0,
            F.md5(F.concat_ws(",", F.expr("transform(fps, x -> CAST(x AS STRING))"))),
        ).alias("fp_hash"),
    )


WSAMPLE_K = 100


def weighted_sample(docs: DataFrame, k: int = WSAMPLE_K) -> DataFrame:
    """Weighted sampling WITHOUT replacement of ``k`` documents with
    inclusion probability proportional to token count — the
    Efraimidis-Spirakis (2006) priority ("exponential race") scheme:
    each row draws u ~ Uniform(0,1] and the k rows with the largest
    u^(1/w) win; selecting on r = ln(u)/w is equivalent (monotone)
    and better conditioned.  The mixture-building sampler of a
    training-data pipeline (sample by quality score, token mass, ...)
    in its one-pass, shuffle-free form.

    u is the repo-standard deterministic hash uniform: the 13-hex md5
    decode of "ws:doc_id" mapped to (0, 1] via (h + 1) / 2^52 — an
    EXACT power-of-two division, so both engines form the identical
    double before the single ln() call; r is rounded to 9 decimals
    and ties break on doc_id (the rounded-cosine ranking precedent —
    a last-ulp ln() divergence sits ~7 orders of magnitude inside the
    rounding grid).  Zero-token documents carry zero weight and are
    excluded (u^(1/0) is ill-defined; their inclusion probability is
    the 0-mass limit).

    Scale shape: one linear map pass (hash + ln per row), then a
    distributed top-k (orderBy + limit = TakeOrdered partial top-k
    per partition, merged on the driver over k-sized partials) — no
    global sort, no single-partition window, nothing corpus-sized
    moves."""
    w = F.size(_token_array())
    u = (
        F.expr(
            "CAST(conv(substr(md5(concat('ws:', CAST(doc_id AS STRING))), 1, 13),"
            " 16, 10) AS BIGINT)"
        )
        + F.lit(1)
    ) / F.lit(float(1 << 52))
    scored = (
        docs.select(
            "doc_id",
            w.alias("n_tokens"),
            F.round(F.log(u) / w, 9).alias("priority"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    return scored.orderBy(F.desc("priority"), F.asc("doc_id")).limit(k)


TFIDF_TOP_K = 3


def tfidf_terms(docs: DataFrame, top_k: int = TFIDF_TOP_K) -> DataFrame:
    """Top-``top_k`` TF-IDF terms per document -> (doc_id, token, tf,
    tfidf): the per-document keyword profile (Sparck Jones 1972) that
    complements BM25's query-side scoring — topic tagging / index
    keying for a curated corpus.

    tfidf = tf * ln(N / df) with N = total documents and df = number
    of documents containing the token, formed as ONE double division
    of two exact BIGINTs before the single ln() (the predicate-PMI
    float contract), rounded to 6 decimals; per-doc ranking is on the
    ROUNDED score with token tiebreaks, so both engines rank the
    identical grid.

    Scale shape: one (doc, token) groupBy over the token stream, one
    token-keyed df marginal (vocabulary-sized — joined without a
    broadcast hint so AQE broadcasts only when it fits), a
    single-row N total, then a per-document top-k window over <=
    distinct-tokens-per-doc rows — the only corpus-sized shuffle is
    the (doc, token) aggregation, which map-side combines."""
    from pyspark.sql import Window

    n = docs.select(F.count(F.lit(1)).alias("n_docs"))
    toks = docs.select(
        "doc_id", F.explode(_token_array()).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_marg = (
        tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    # no broadcast HINT on the df marginal: its cardinality is the
    # vocabulary, which grows with the corpus (Heaps' law) — let
    # AQE pick broadcast when it actually fits
    return (
        tf.join(df_marg, "token")
        .crossJoin(F.broadcast(n))  # single-row totals frame
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .drop("rn")
    )


def cross_source_dups(docs: DataFrame) -> DataFrame:
    """Cross-source duplicate-leakage matrix -> (source_a, source_b,
    n_shared) with source_a < source_b: for each pair of sources, how
    many distinct text hashes occur in BOTH — the diagnostic a
    mixture curator reads before weighting sources (a source pair
    sharing most of its content double-counts its weight; also the
    train/eval contamination shape when one source is a benchmark).

    Scale shape: one distinct over (text_hash, source), then a
    hash-keyed self-join whose per-hash output is bounded by the
    SOURCE vocabulary (dozens, not documents), then a pair-keyed
    count — the predicate-PMI plan on content hashes."""
    hs = docs.select(
        F.md5("text").alias("text_hash"), "source"
    ).distinct().localCheckpoint()
    a = hs.select("text_hash", F.col("source").alias("source_a"))
    b = hs.select("text_hash", F.col("source").alias("source_b"))
    return (
        a.join(b, "text_hash")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def ngram_novelty(docs: DataFrame, n: int = DECON_NGRAM) -> DataFrame:
    """Per-document originality signal -> (doc_id, n_grams,
    novel_frac): the fraction of the document's DISTINCT word n-grams
    that occur in NO other document corpus-wide.  Boilerplate-heavy
    and template-generated pages score near 0, genuinely novel prose
    near 1 — the curation complement of the dedup family (near-dup
    finds the copies; novelty scores everything by how much of it is
    copied).  Documents shorter than n tokens have no n-grams and are
    absent.

    All-integer until the final rounded division of two exact counts,
    so both engines emit the identical double.  Scale shape: one
    distinct over (doc, ngram), one ngram-keyed count + join (keys
    uniform by construction — n-grams, not raw tokens), one per-doc
    aggregate; everything map-side combines and nothing is broadcast
    or collected."""
    g = word_ngrams(docs, n).localCheckpoint()
    docs_per = g.groupBy("ng").agg(F.count(F.lit(1)).alias("nd"))
    return (
        g.join(docs_per, "ng")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("nd") == 1, 1).otherwise(0)).alias("novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.round(F.col("novel") / F.col("n_grams"), 6).alias("novel_frac"),
        )
    )


PPJ_T1000 = 600  # jaccard threshold 0.6 as an integer per-mille


def prefix_jaccard_join(docs: DataFrame, t1000: int = PPJ_T1000) -> DataFrame:
    """EXACT set-similarity self-join over per-document token sets:
    all pairs with token-set jaccard >= t1000/1000 -> (doc_a, doc_b,
    inter, jaccard) — the prefix-filtering family (SSJoin/PPJoin,
    Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08, public), the
    exactness-guaranteed alternative to MinHash-LSH: NO false
    negatives (every qualifying pair is found), and false candidates
    are removed by exact verification.

    Prefix filter: order each doc's distinct tokens by GLOBAL
    frequency ascending (rarest first, ties by token); two sets with
    jaccard >= t MUST share a token inside their first
    sz - ceil(t * sz) + 1 tokens under any shared total order, so
    candidate pairs come from a self-join on PREFIX tokens only.
    The integer form ceil(t*sz) = (t1000*sz + 999) div 1000 keeps
    both engines on the same grid; a size filter
    (min_sz * 1000 >= t1000 * max_sz) prunes length-incompatible
    pairs before verification, and the final keep decision is the
    pure-integer inter * 1000 >= t1000 * union.

    Scale shape: the candidate join is keyed on prefix tokens, which
    are the RAREST tokens by construction — prefix filtering is
    skew-proof by design (a boilerplate token shared by 10^9
    documents is never in anyone's prefix; contrast LSH banding,
    which needs an explicit hot-bucket cap).  Verification joins the
    distinct (doc, token) table once per candidate side, keyed on
    doc — volume proportional to candidates, not the corpus."""
    toks = docs.select("doc_id", F.explode(_token_array()).alias("tok")).distinct()
    toks = toks.localCheckpoint()  # reused: freq, prefix, 2x verify
    sz = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("tf", "tok")
    prefix = (
        toks.join(freq, "tok")
        .join(sz, "doc_id")
        .withColumn("pos", F.row_number().over(w))
        .filter(
            F.col("pos")
            <= F.col("sz") - F.expr(f"({t1000} * sz + 999) div 1000") + 1
        )
        .select("tok", "doc_id", "sz")
    )
    a = prefix.select("tok", F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    b = prefix.select("tok", F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("sz_a", "sz_b") * 1000 >= t1000 * F.greatest("sz_a", "sz_b")
        )
        .select("doc_a", "doc_b", "sz_a", "sz_b")
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        inter.filter(F.col("inter") * 1000 >= t1000 * union)
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.round(F.col("inter") / union.cast("double"), 6).alias("jaccard"),
        )
    )


def containment_scores(docs: DataFrame, pairs: DataFrame, n: int = SHINGLE) -> DataFrame:
    """ASYMMETRIC near-dup detection: per-document maximum shingle
    CONTAINMENT over its LSH candidate partners -> (doc_id,
    max_containment, n_partners).  Containment(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| (Broder 1997's second
    resemblance measure): a short document quoted wholesale inside a
    long one scores ~1.0 here while its symmetric Jaccard stays low —
    the duplicate class (quotes, embedded boilerplate, subset pages)
    the jaccard verifier structurally misses.

    Pairs come from the SAME capped LSH candidate stage as
    ngram_jaccard (never all-pairs); each pair contributes its
    containment in BOTH directions, then a per-doc max.  The score is
    ONE double division of two exact BIGINTs, so both engines feed
    max() identical doubles (rounded to 6 on publish).

    Scale shape: identical to ngram_jaccard (semi-join shingling of
    candidate docs only, one shingle-keyed intersect join, pair-keyed
    counts) plus one doc-keyed max aggregation."""
    pairs = pairs.localCheckpoint()
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        docs.join(cand_docs, "doc_id", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("text") - (n - 1), F.lit(1)))
            ).alias("i"),
            "text",
        )
        .select("doc_id", F.expr(f"substr(text, i, {n})").alias("s"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    scored = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
    )
    directed = scored.select(
        F.col("doc_a").alias("doc_id"),
        (F.col("n_inter") / F.col("na").cast("double")).alias("c"),
    ).unionAll(
        scored.select(
            F.col("doc_b").alias("doc_id"),
            (F.col("n_inter") / F.col("nb").cast("double")).alias("c"),
        )
    )
    return directed.groupBy("doc_id").agg(
        F.round(F.max("c"), 6).alias("max_containment"),
        F.count(F.lit(1)).alias("n_partners"),
    )


def repeated_spans(
    docs: DataFrame, window: int = SUBSTR_WINDOW, stride: int = SUBSTR_STRIDE
) -> DataFrame:
    """Corpus SELF-dedup at the span level (the within-corpus form of
    the suffix-array dedup in Lee et al. 2021 — substring_decontaminate
    is the same machinery pointed at an eval set): flag every
    ``window``-char training window whose text occurs at >= 2 positions
    anywhere in the corpus (cross-doc OR within-doc), merge the flagged
    windows into maximal character intervals per document, and emit
    (doc_id, n_spans, repeated_chars, frac_repeated).  This is the
    signal ExactSubstr-style pipelines CUT on: symmetric doc-level
    dedup keeps one copy of a near-dup pair, but a boilerplate banner
    pasted into a million otherwise-unique pages survives doc-level
    dedup entirely and only a span-level profile sees it.

    Windows are keyed by md5(window_text) so the repeat-count shuffle
    carries 32-char keys, not raw text; a collision would need two
    distinct 50-char strings sharing an md5, which is negligible and
    identical in both engines.  Interval merge is the classic
    running-max-end window: a new span starts exactly when a window's
    start exceeds the running max end of everything before it, so each
    merged span is contiguous and its length is max(end)-min(start)+1.

    Scale shape: one map-side window pass (len/stride rows per doc —
    the same stream substring_decontaminate already carries), one
    md5-keyed count shuffle, one semi-join back, and one per-doc
    window.  No self-join, no explode over matched positions; output
    is at most one row per document that contains any repeat."""
    from pyspark.sql import Window

    text = F.coalesce(F.col("text"), F.lit(""))
    wins = (
        docs.select("doc_id", text.alias("t"))
        .filter(F.length("t") >= window)
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(
                    F.lit(1), F.length("t") - (window - 1), F.lit(stride)
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            "s",
            F.md5(F.expr(f"substr(t, s, {window})")).alias("k"),
        )
    )
    rep = (
        wins.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("k")
    )
    flagged = wins.join(rep, "k", "left_semi").select(
        "doc_id", "s", (F.col("s") + (window - 1)).alias("e")
    )
    w_ord = Window.partitionBy("doc_id").orderBy("s")
    pmax = F.max("e").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    grp = flagged.select(
        "doc_id",
        "s",
        "e",
        F.sum(
            F.when(pmax.isNull() | (F.col("s") > pmax), 1).otherwise(0)
        ).over(w_ord).alias("g"),
    )
    spans = grp.groupBy("doc_id", "g").agg(
        (F.max("e") - F.min("s") + 1).alias("span_len")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("repeated_chars"),
    )
    lens = docs.select("doc_id", F.length(text).alias("n"))
    return per_doc.join(lens, "doc_id").select(
        "doc_id",
        "n_spans",
        "repeated_chars",
        F.round(F.col("repeated_chars") / F.col("n").cast("double"), 6).alias(
            "frac_repeated"
        ),
    )


def corpus_cube(docs: DataFrame) -> DataFrame:
    """Multi-level corpus composition profile in ONE aggregation pass:
    CUBE(source, lang) with per-column GROUPING flags — every
    (source, lang), per-source, per-lang and grand-total cell of the
    doc-count / char-volume matrix that curation dashboards slice on,
    without re-scanning the corpus once per level (Spark plans CUBE as
    a single Expand + one hash aggregate, so the corpus is read once).

    GROUPING flags (gs, gl) disambiguate a genuine NULL group value
    from a rollup level, which is why the '<all>' placeholder is safe.
    Output is (|sources|+1) x (|langs|+1) rows — constant-sized."""
    return (
        docs.cube("source", "lang")
        .agg(
            F.grouping("source").cast("long").alias("gs"),
            F.grouping("lang").cast("long").alias("gl"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).alias(
                "total_chars"
            ),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("<all>")).alias("source"),
            F.coalesce(F.col("lang"), F.lit("<all>")).alias("lang"),
            "gs",
            "gl",
            "n_docs",
            "total_chars",
        )
    )


# Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", App. A —
# public).  Flags are evaluated in EXACT INTEGER form (e.g. the 80%
# alpha-word rule is 5*alpha_cnt >= 4*n_words) so the pass verdict
# never depends on float rounding; the published ratio columns are
# one double division of exact BIGINTs each, rounded to 6.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3  # mean word length bounds (chars)
GOPHER_MAX_MWL = 10
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORDS = 2


def gopher_filter(docs: DataFrame) -> DataFrame:
    """The Gopher rule-based quality filter, composed: word-count
    bounds, mean-word-length bounds, >= 80% words containing an
    alphabetic char, >= 2 of the 8 required stop words, symbol-to-word
    ratio ('#' or '...') <= 0.1, <= 10% bullet-started lines, <= 30%
    ellipsis-ended lines.  Emits every per-rule signal plus the
    composite verdict — curation pipelines tune on the per-rule
    columns, cut on `passes`.  One map-side pass, zero shuffles: every
    rule is array/string algebra on the row."""
    toks = _token_array()
    lines = F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    d = docs.select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        toks.alias("toks"),
        lines.alias("lines"),
    ).select(
        "doc_id",
        F.size("toks").alias("n_words"),
        F.expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))").alias("sum_len"),
        F.expr("size(filter(toks, x -> x rlike '[a-zA-Z]'))").alias("alpha_cnt"),
        F.size(F.array_intersect(F.array_distinct("toks"), stop_arr)).alias("n_stop"),
        (
            (F.length("text") - F.length(F.regexp_replace("text", "#", "")))
            + (F.length("text") - F.length(F.expr("replace(text, '...', '')")))
            / F.lit(3)
        ).cast("long").alias("sym_cnt"),
        F.size("lines").alias("n_lines"),
        F.expr(
            "size(filter(lines, l -> substr(l, 1, 1) IN ('-', '*', '•')))"
        ).alias("bullet_cnt"),
        F.expr("size(filter(lines, l -> right(l, 3) = '...'))").alias("ell_cnt"),
    )
    n = F.col("n_words")
    nl = F.col("n_lines")
    passes = (
        (n >= GOPHER_MIN_WORDS)
        & (n <= GOPHER_MAX_WORDS)
        & (F.col("sum_len") >= GOPHER_MIN_MWL * n)
        & (F.col("sum_len") <= GOPHER_MAX_MWL * n)
        & (5 * F.col("alpha_cnt") >= 4 * n)
        & (F.col("n_stop") >= GOPHER_MIN_STOPWORDS)
        & (10 * F.col("sym_cnt") <= n)
        & (10 * F.col("bullet_cnt") <= nl)
        & (10 * F.col("ell_cnt") <= 3 * nl)
    )
    ratio = lambda a, b: F.round(a / b.cast("double"), 6)  # noqa: E731
    zero = F.lit(0.0)
    return d.select(
        "doc_id",
        "n_words",
        F.when(n > 0, ratio(F.col("sum_len"), n)).otherwise(zero).alias("mean_word_len"),
        F.when(n > 0, ratio(F.col("alpha_cnt"), n)).otherwise(zero).alias("frac_alpha"),
        F.col("n_stop"),
        F.when(n > 0, ratio(F.col("sym_cnt"), n)).otherwise(zero).alias("symbol_ratio"),
        F.when(nl > 0, ratio(F.col("bullet_cnt"), nl)).otherwise(zero).alias("frac_bullet_lines"),
        F.when(nl > 0, ratio(F.col("ell_cnt"), nl)).otherwise(zero).alias("frac_ellipsis_lines"),
        passes.cast("int").alias("passes"),
    )


CDC_WINDOW = 8  # rolling-window width for the boundary test
CDC_MOD = 64  # boundary when window-hash % CDC_MOD == 0 (~64-char chunks)


def cdc_chunks(docs: DataFrame, window: int = CDC_WINDOW, mod: int = CDC_MOD) -> DataFrame:
    """CONTENT-DEFINED chunking (the Rabin/FastCDC family used by
    storage dedup, applied to corpus text): a chunk boundary falls
    BEFORE position i whenever the hash of the ``window`` chars at i
    is 0 mod ``mod``, so boundaries are anchored to CONTENT — insert
    one char at the front of a doc and fixed-width chunking
    (chunk_dedup) re-keys every downstream chunk, while CDC re-keys
    only the chunk containing the edit.  That shift-invariance is the
    whole point: it is what lets chunk-level dedup survive prefix
    edits.  Emits per doc (doc_id, n_chunks, n_shared_chunks,
    frac_shared) where shared = the chunk's exact text occurs >= 2
    times corpus-wide.

    Scale shape: the boundary scan is the stride-1 substring stream
    the MinHash shingle build already carries (len rows/doc, map-only
    filter keeping ~len/mod); chunk texts are cut by one per-doc lead
    window and deduped by one md5-keyed count shuffle."""
    text = F.coalesce(F.col("text"), F.lit(""))
    d = docs.select("doc_id", text.alias("t")).filter(F.length("t") >= 1)
    cuts = (
        d.select(
            "doc_id",
            "t",
            F.explode(
                F.expr(
                    f"CASE WHEN length(t) >= {window + 1} THEN "
                    f"sequence(2, length(t) - {window - 1}) "
                    "ELSE CAST(array() AS array<int>) END"
                )
            ).alias("i"),
        )
        .filter(
            F.expr(
                f"CAST(conv(substr(md5(substr(t, i, {window})), 1, 13), 16, 10) AS BIGINT) % {mod} = 0"
            )
        )
        .select("doc_id", F.col("i").alias("s"))
    )
    starts = d.select("doc_id", F.lit(1).alias("s")).unionByName(cuts)
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("s")
    chunks = (
        starts.join(d, "doc_id")
        .withColumn("e", F.coalesce(F.lead("s").over(w) - 1, F.length("t")))
        .select("doc_id", F.md5(F.expr("substr(t, s, e - s + 1)")).alias("ch"))
    )
    shared = (
        chunks.groupBy("ch")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("ch")
    )
    flagged = chunks.join(shared, "ch", "left_semi").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared_chunks")
    )
    per_doc = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    return (
        per_doc.join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_shared_chunks", F.lit(0)).alias("n_shared_chunks"),
            F.round(
                F.coalesce("n_shared_chunks", F.lit(0))
                / F.col("n_chunks").cast("double"),
                6,
            ).alias("frac_shared"),
        )
    )


def lsh_candidates_delta(
    signatures: DataFrame, new_ids: DataFrame, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """INCREMENTAL near-dup candidate maintenance: when a delta of new
    documents arrives, probe only the NEW docs' signatures against the
    full (band, minhash) signature index instead of re-running the
    all-pairs bucket self-join — the probe cost tracks the delta size,
    not the corpus.  Bucket-occupancy hygiene (2..max_bucket) is
    computed on the FULL index, exactly as the stored index would
    maintain it, so the capped-bucket semantics are unchanged.
    Returns the same (doc_a < doc_b) pair set the full recompute would
    emit restricted to pairs touching a new doc — the cross-engine
    oracle recomputes the FULL candidate set and filters post-hoc,
    proving the index-probe commutes."""
    sizes = signatures.groupBy("band", "minhash").agg(F.count(F.lit(1)).alias("_bc"))
    ok = sizes.filter((F.col("_bc") >= 2) & (F.col("_bc") <= max_bucket)).select(
        "band", "minhash"
    )
    sigs = signatures.join(ok, ["band", "minhash"], "left_semi")
    probe = sigs.join(new_ids, "doc_id", "left_semi").select(
        "band", "minhash", F.col("doc_id").alias("p")
    )
    index = sigs.select("band", "minhash", F.col("doc_id").alias("q"))
    return (
        probe.join(index, ["band", "minhash"])
        .filter(F.col("p") != F.col("q"))
        .select(
            F.least("p", "q").alias("doc_a"), F.greatest("p", "q").alias("doc_b")
        )
        .distinct()
    )


# T5 span-corruption (Raffel et al. 2020, public): tokens are grouped
# into fixed-width runs and each run is corrupted independently with
# probability 1/SC_MOD, decided by the repo-standard 13-hex-digit md5
# hash so both engines draw the same mask.  GROUP=3, MOD=5 gives the
# paper's regime (~20% of tokens corrupted, mean span 3).
SC_GROUP = 3
SC_MOD = 5


def span_corruption(docs: DataFrame, group: int = SC_GROUP, mod: int = SC_MOD) -> DataFrame:
    """T5-style span-corruption training pairs: deterministic span mask
    over the token stream, corrupted spans replaced by ``<extra_id_k>``
    sentinels in the input and emitted after their sentinel in the
    target — (doc_id, n_tokens, n_spans, input_text, target_text).

    Everything is per-row array algebra (one map-side pass, zero
    shuffles): the group sequence, the hash mask, the sentinel
    numbering (rank of the group among corrupted groups) and both
    reassembled strings are computed inside one projection, so the
    operator is trivially linear and partition-agnostic at any scale."""
    n_grp = f"CAST(ceil(size(toks) / CAST({group} AS DOUBLE)) AS INT)"
    corrupted = (
        f"CAST(conv(substr(md5(concat('sc:', CAST(doc_id AS STRING), ':', "
        f"CAST(g AS STRING))), 1, 13), 16, 10) AS BIGINT) % {mod} = 0"
    )
    d = docs.select(
        "doc_id", _token_array().alias("toks")
    ).withColumn(
        "gseq",
        F.expr(f"CASE WHEN size(toks) > 0 THEN sequence(0, {n_grp} - 1) "
               "ELSE CAST(array() AS array<int>) END"),
    ).withColumn(
        "corr", F.expr(f"filter(gseq, g -> {corrupted})")
    )
    sentinel = (
        "concat('<extra_id_', CAST(size(filter(corr, c -> c < g)) AS STRING), '>')"
    )
    input_parts = (
        f"flatten(transform(gseq, g -> CASE WHEN {corrupted} "
        f"THEN array({sentinel}) "
        f"ELSE slice(toks, g * {group} + 1, {group}) END))"
    )
    target_parts = (
        f"flatten(transform(corr, (c, k) -> concat("
        f"array(concat('<extra_id_', CAST(k AS STRING), '>')), "
        f"slice(toks, c * {group} + 1, {group}))))"
    )
    return d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size("corr").alias("n_spans"),
        F.expr(f"concat_ws(' ', {input_parts})").alias("input_text"),
        F.expr(f"concat_ws(' ', {target_parts})").alias("target_text"),
    )


# CCNet-style perplexity bucketing (Wenzek et al. 2019, public): per
# language, split documents into head/middle/tail thirds by LM score.
# The tertile THRESHOLDS are read off a fixed-width histogram of the
# per-doc mean NLL (bin width 0.01) instead of a per-language global
# sort — the same mergeable-sketch quantile trick as token_quantiles,
# so the plan is two aggregates plus one broadcast join at any scale.
CCNET_BIN = 100  # bins per NLL unit (width 0.01)


def ccnet_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, n_tokens, mean_nll, bucket): head = lowest-NLL
    (most fluent) tertile per language, tail = highest.  Threshold
    bins are the smallest bins whose cumulative count reaches 1/3 and
    2/3 of the language's documents; a document in the threshold bin
    goes to the lower bucket (deterministic at bin granularity, exact
    integer arithmetic — no percentile interpolation)."""
    nll = unigram_nll(docs).join(docs.select("doc_id", "lang"), "doc_id")
    binned = nll.withColumn(
        "bin", F.floor(F.col("mean_nll") * CCNET_BIN).cast("int")
    )
    hist = binned.groupBy("lang", "bin").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("bin")
    cum = hist.withColumn("cum", F.sum("c").over(w)).withColumn(
        "total", F.sum("c").over(Window.partitionBy("lang"))
    )
    thresholds = cum.groupBy("lang").agg(
        F.min(F.when(3 * F.col("cum") >= F.col("total"), F.col("bin"))).alias("t1"),
        F.min(F.when(3 * F.col("cum") >= 2 * F.col("total"), F.col("bin"))).alias("t2"),
    )
    return (
        binned.join(F.broadcast(thresholds), "lang")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "mean_nll",
            F.when(F.col("bin") <= F.col("t1"), F.lit("head"))
            .when(F.col("bin") <= F.col("t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


# RefinedWeb/Dolma-style "fuzzy-exact" dedup: normalize (lowercase,
# punctuation -> space, whitespace collapse) BEFORE hashing, so case
# and punctuation variants of the same document collapse into one
# class that raw exact_dedup would keep apart.
def normalize_text(col="text"):
    """The normalization chain as a column expression (reusable by any
    op that needs canonical text): lower -> non-[a-z0-9 ] to space ->
    collapse runs of spaces -> trim.  Patterns go through the Python
    API, never F.expr, so backslashes survive (repo lesson)."""
    x = F.lower(F.col(col) if isinstance(col, str) else col)
    x = F.regexp_replace(x, "[^a-z0-9 ]", " ")
    x = F.regexp_replace(x, " +", " ")
    return F.trim(x)


def normalized_dedup(docs: DataFrame) -> DataFrame:
    """(norm_hash, keep_doc_id, n_dups, n_raw_variants): exact dedup
    over NORMALIZED text — the standard first dedup pass of web-corpus
    pipelines (RefinedWeb's exact dedup runs on normalized content).
    n_raw_variants counts distinct RAW texts inside the class: > 1
    means the normalization did work raw hashing could not.

    Scale shape: identical to exact_dedup — one map-side projection
    (the normalization chain is whole-stage-codegen string ops) and
    one hash aggregate on the digest; linear, no self-join."""
    return (
        docs.select("doc_id", "text", F.md5(normalize_text()).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.countDistinct("text").alias("n_raw_variants"),
        )
    )


# fastText-shaped quality classifier inference (Joulin et al. 2016;
# the DCLM / CCNet filtering pattern): hashed bag-of-ngram features,
# a bucket->weight table, per-doc mean weight through a logistic.
# The WEIGHTS here are a deterministic md5-derived stand-in — no
# trained model artifact ships in this container (same honesty rule
# as the multimodal decode stub); a real deployment loads learned
# weights into the same broadcast table and the plan is unchanged.
QC_BUCKETS = DSIR_BUCKETS


def quality_classifier_weights(spark, n_buckets: int = QC_BUCKETS) -> DataFrame:
    """(b, w): the weight table, one row per hash bucket, w in
    [-1, 1] with 3-decimal quantization — derived from md5('qw:<b>')
    so both engines materialize the identical table."""
    return spark.range(n_buckets).select(
        F.col("id").alias("b"),
        (
            (
                F.expr(
                    "CAST(conv(substr(md5(concat('qw:', CAST(id AS STRING))), 1, 13),"
                    " 16, 10) AS BIGINT) % 2001"
                )
                - F.lit(1000)
            )
            / F.lit(1000.0)
        ).alias("w"),
    )


def quality_classifier(
    docs: DataFrame, weights: DataFrame, n_buckets: int = QC_BUCKETS
) -> DataFrame:
    """(doc_id, n_feats, score, keep): linear-classifier inference over
    hashed word uni+bigram features — score = sigmoid(mean bucket
    weight), keep = score >= 0.5.  This is the fastText/DCLM quality-
    filter INFERENCE shape: the model is a broadcast-sized weight
    table (buckets, not vocabulary), the feature stream is the same
    hashed-ngram explode DSIR selection uses, and the per-doc reduce
    is one aggregate — linear in corpus tokens at any scale, no
    Python anywhere.  score rounds to 6 decimals (repo float
    contract)."""
    toks = docs.select("doc_id", _token_array().alias("toks")).filter(
        F.size("toks") > 0
    )
    feats = toks.select(
        "doc_id",
        F.explode(
            F.concat(
                F.col("toks"),
                F.when(
                    F.size("toks") >= 2,
                    F.expr(
                        "transform(sequence(1, size(toks)-1),"
                        " i -> concat(toks[i-1], ' ', toks[i]))"
                    ),
                ).otherwise(F.expr("CAST(array() AS array<string>)")),
            )
        ).alias("feat"),
    )
    fb = feats.select(
        "doc_id",
        F.expr(
            f"CAST(conv(substr(md5(feat), 1, 13), 16, 10) AS BIGINT) % {n_buckets}"
        ).alias("b"),
    )
    scored = fb.join(F.broadcast(weights), "b")
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_feats"), F.avg("w").alias("mw"))
        .select(
            "doc_id",
            "n_feats",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("mw"))), 6).alias("score"),
            (F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("mw"))), 6) >= 0.5).alias(
                "keep"
            ),
        )
    )


# ER blocking evaluation (Christen 2012, "Data Matching", ch. 7 — the
# standard blocking metrics): how good is the LSH blocker as a
# candidate generator?  pairs_completeness = recall of true matches,
# pairs_quality = precision of the candidate set, reduction_ratio =
# fraction of the all-pairs space the blocker pruned away.
BQ_SAMPLE_MOD = 10    # minimum sampling modulus (small corpora)
BQ_SAMPLE_TARGET = 512  # target audit-sample size at any corpus scale
BQ_T1000 = 500        # true match := shingle jaccard >= 0.5 (per-mille)


def blocking_quality(
    docs: DataFrame,
    candidates: DataFrame,
    sample_mod: int = BQ_SAMPLE_MOD,
    t1000: int = BQ_T1000,
    n: int = SHINGLE,
) -> DataFrame:
    """One-row blocker scorecard — (n_docs, n_true, n_cand, n_hit,
    pairs_completeness, pairs_quality, reduction_ratio) — comparing
    ``candidates`` (doc_a < doc_b pairs from any blocker, e.g.
    lsh_candidates) against EXACT ground truth (n-char shingle Jaccard
    >= t1000/1000, integer cross-multiplied — no float threshold) on
    the 1/sample_mod doc_id sample.

    The exact stage is the documented hard cap: ground truth is
    all-pairs and therefore quadratic, so it runs on a FIXED-SIZE
    audit sample, not a fixed fraction — the sampling modulus scales
    with the corpus (m = max(sample_mod, n_docs div BQ_SAMPLE_TARGET),
    from one scalar count, so both engines derive the same value), the
    way real ER evaluation labels a bounded sample.  A fixed 1/10
    fraction measured 20x wall at 10x data on the duplicate-heavy sf1
    fixture; the scaled modulus keeps the exact stage constant-sized
    at any corpus scale.  Pair enumeration goes through a
    shared-shingle equi-join, never a cartesian.  Convention: empty
    truth/candidate sets score 1.0 (the evaluate.py P=1-when-found=0
    rule)."""
    # driver-small by construction: ONE scalar count (parquet answers
    # it from row-group stats), traded for literal moduli that push
    # down into every scan below — the in-plan 1-row-crossJoin variant
    # recomputed the count three times and blocked pushdown (+2 s at
    # sf0.1 measured)
    m = max(sample_mod, docs.count() // BQ_SAMPLE_TARGET)
    s = docs.filter((F.col("doc_id") % m) == 0).select("doc_id", "text")
    sh = (
        s.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("text") - (n - 1), F.lit(1)))
            ).alias("i"),
            "text",
        )
        .select("doc_id", F.expr(f"substr(text, i, {n})").alias("s"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.select(F.col("doc_id").alias("doc_a"), "s")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "s"), "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .filter(
            F.lit(1000) * F.col("n_inter")
            >= F.lit(t1000) * (F.col("na") + F.col("nb") - F.col("n_inter"))
        )
        .select("doc_a", "doc_b")
    )
    cand_s = candidates.filter(
        ((F.col("doc_a") % m) == 0) & ((F.col("doc_b") % m) == 0)
    ).select("doc_a", "doc_b")
    nd = s.agg(F.count(F.lit(1)).alias("n_docs"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_true"))
    nc = cand_s.agg(F.count(F.lit(1)).alias("n_cand"))
    nh = truth.join(cand_s, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        nd.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_docs",
            "n_true",
            "n_cand",
            "n_hit",
            F.when(F.col("n_true") == 0, F.lit(1.0))
            .otherwise(F.round(F.col("n_hit") / F.col("n_true"), 6))
            .alias("pairs_completeness"),
            F.when(F.col("n_cand") == 0, F.lit(1.0))
            .otherwise(F.round(F.col("n_hit") / F.col("n_cand"), 6))
            .alias("pairs_quality"),
            F.when(F.col("n_docs") < 2, F.lit(1.0))
            .otherwise(
                F.round(
                    F.lit(1.0)
                    - F.col("n_cand")
                    / (F.col("n_docs") * (F.col("n_docs") - 1) / F.lit(2.0)),
                    6,
                )
            )
            .alias("reduction_ratio"),
        )
    )


def meta_blocking(signatures: DataFrame, max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Meta-blocking with CBS weighting + weighted-edge pruning
    (Papadakis et al., "Meta-Blocking: Taking Entity Resolution to
    the Next Level", TKDE 2013): materialize the blocking graph whose
    nodes are documents and whose edge weight is the number of blocks
    two documents co-occur in (Common Blocks Scheme), then keep only
    edges at or above the global mean weight (WEP).  Input is the
    minhash signature table; blocks are the (band, minhash) LSH
    buckets after the repo's standard occupancy hygiene (singletons
    contribute no pairs; buckets above ``max_bucket`` are boilerplate
    collisions, not near-duplication).  Output: (doc_a, doc_b,
    n_blocks) — the pruned candidate set a matcher would score.

    Scale shape: identical to ``lsh_candidates`` (the self-join is
    keyed on the capped bucket, never a cartesian) with one extra
    map-side-combinable (doc_a, doc_b) count on top, a single-row
    mean aggregate joined back by broadcast, and a weight filter.
    Nothing corpus-sized is collected, broadcast, or sorted; the
    pruning threshold is one scalar."""
    sizes = signatures.groupBy("band", "minhash").agg(F.count(F.lit(1)).alias("_bc"))
    ok = sizes.filter((F.col("_bc") >= 2) & (F.col("_bc") <= max_bucket)).select(
        "band", "minhash"
    )
    sigs = signatures.join(ok, ["band", "minhash"], "left_semi")
    a = sigs.select("band", "minhash", F.col("doc_id").alias("doc_a"))
    b = sigs.select("band", "minhash", F.col("doc_id").alias("doc_b"))
    weighted = (
        a.join(b, ["band", "minhash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_blocks"))
    )
    mean_w = weighted.agg(F.avg("n_blocks").alias("_mw"))
    return (
        weighted.crossJoin(F.broadcast(mean_w))  # single-row totals frame
        .filter(F.col("n_blocks") >= F.col("_mw"))
        .select("doc_a", "doc_b", "n_blocks")
    )


ZIPF_TOP_K = 256


def zipf_fit(docs: DataFrame, top_k: int = ZIPF_TOP_K) -> DataFrame:
    """Zipf's-law fit of the corpus unigram frequency head: least-
    squares slope and r² of ln(freq) against ln(rank) over the
    ``top_k`` most frequent tokens (frequency desc, token asc
    tie-break) — the standard corpus-health diagnostic (natural
    language sits near slope -1; boilerplate-heavy or synthetic
    corpora drift off it).  One row: (n_vocab, n_tokens, k_used,
    zipf_slope, zipf_r2), slope/r² rounded to 6.

    Scale shape: one token explode + one map-side-combinable count
    per token; the head is taken with a distributed top-k
    (TakeOrderedAndProject — no global sort), and the regression
    sums run over ``top_k`` rows on the driver-adjacent tiny frame.
    The vocabulary itself is never windowed or collected.

    Float contract: ln() inputs are exact integers (identical on
    both engines); the regression sums are over ``top_k`` doubles,
    so cross-engine summation-order error is ~1e-13 — far inside
    the 1e-6 rounding."""
    toks = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.agg(
        F.count(F.lit(1)).alias("n_vocab"), F.sum("n").alias("n_tokens")
    )
    head = counts.orderBy(F.col("n").desc(), "tok").limit(top_k)
    from pyspark.sql import Window

    ranked = head.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy(F.lit(1)).orderBy(F.col("n").desc(), "tok")
        ),
    ).select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("k_used") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("k_used") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("k_used") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        totals.crossJoin(F.broadcast(sums))  # single-row totals frames
        .select(
            "n_vocab",
            "n_tokens",
            "k_used",
            F.when(denx != 0, F.round(num / denx, 6))
            .otherwise(F.lit(0.0))
            .alias("zipf_slope"),
            F.when(
                (denx != 0) & (deny != 0), F.round(num * num / (denx * deny), 6)
            )
            .otherwise(F.lit(0.0))
            .alias("zipf_r2"),
        )
    )


MIN_COLLOC = 5


def collocations(docs: DataFrame, min_pair: int = MIN_COLLOC) -> DataFrame:
    """Adjacent-token collocation mining by pointwise mutual
    information (Church & Hanks 1990): for every ordered adjacent
    token bigram seen at least ``min_pair`` times, pmi =
    ln( p(x,y) / (p(x) p(y)) ) with p(x,y) = c_xy / B over bigram
    positions and p(x) = c_x / T over token positions.  Output
    (tok_a, tok_b, n_pair, pmi) with pmi rounded to 6 — the classic
    phrase-detection signal (word2vec-style phrase merging
    thresholds on exactly this statistic).

    Scale shape: one in-array zip_with pairing (no posexplode
    self-join), two map-side-combinable counts (bigrams, unigrams),
    two vocabulary-keyed equi-joins of the thresholded bigram table
    against the unigram table, and two single-row totals broadcasts.
    The ln() input is built from BIGINT-exact counts as a fixed
    left-to-right chain of three DOUBLE ratios ((c_xy/B) * (T/c_x) *
    (T/c_y)) — never an integer product that could overflow at
    corpus scale (T² passes 2^63 around 3e9 tokens) — so both
    engines feed ln the identical double."""
    tf = F.filter(F.split("text", " "), lambda x: x != "")
    d = docs.select(tf.alias("tf")).filter(F.size("tf") >= 2)
    pairs = F.zip_with(
        F.slice("tf", 1, F.greatest(F.size("tf") - 1, F.lit(0))),
        F.slice("tf", 2, F.greatest(F.size("tf") - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("tok_a"), b.alias("tok_b")),
    )
    bi = (
        d.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.tok_a").alias("tok_a"), F.col("p.tok_b").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    uni = (
        docs.select(F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot_b = bi.agg(F.sum("n_pair").alias("b_total"))
    tot_t = uni.agg(F.sum("c").alias("t_total"))
    return (
        bi.filter(F.col("n_pair") >= min_pair)
        .join(uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("ca")), "tok_a")
        .join(uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("cb")), "tok_b")
        .crossJoin(F.broadcast(tot_b))  # single-row totals frames
        .crossJoin(F.broadcast(tot_t))
        .select(
            "tok_a",
            "tok_b",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair").cast("double") / F.col("b_total"))
                    * (F.col("t_total").cast("double") / F.col("ca"))
                    * (F.col("t_total").cast("double") / F.col("cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def mention_coref(docs: DataFrame) -> DataFrame:
    """String-match coreference chains — the exact-match sieve of the
    classic rule-based coref stack (Lee et al. 2013's first and
    highest-precision pass): within a document, every repetition of
    the same mention surface joins one chain.  Per document:
    (doc_id, n_mentions, n_chains, max_chain, singleton_ratio) where
    n_chains counts surfaces mentioned at least twice, max_chain is
    the largest chain length, and singleton_ratio is the share of
    distinct surfaces that never corefer (rounded 6) — the coref
    density profile an entity-linking stage reads before deciding
    span-merge strategy.

    Mentions come from the Arrow pandas-UDF detector shared with
    ``mention_counts`` (no row-at-a-time Python).

    Scale shape: one doc-keyed mention count (map-side combinable)
    then one doc-keyed aggregate — both ride the same doc_id
    partitioning; nothing crosses documents."""
    per_surface = (
        docs.select("doc_id", F.explode(_find_mentions("text")).alias("mention"))
        .groupBy("doc_id", "mention")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_surface.groupBy("doc_id").agg(
        F.sum("n").alias("n_mentions"),
        F.sum((F.col("n") >= 2).cast("bigint")).alias("n_chains"),
        F.max("n").alias("max_chain"),
        F.round(
            F.avg((F.col("n") == 1).cast("double")), 6
        ).alias("singleton_ratio"),
    )


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Per-language tokenizer-fertility profile — the curation
    diagnostic behind per-language token budgets (chars-per-token is
    the standard fertility proxy; languages whose fertility drifts
    high are under-served by the tokenizer and over-billed in token
    budgets).  Buckets documents with the repo's lang_id heuristic
    (stopword-hit ratio) and publishes per bucket: (lang_pred,
    n_docs, n_tokens, n_chars, chars_per_token, tokens_per_doc),
    ratios rounded to 6 (0.0 for empty buckets' zero denominators).

    Scale shape: everything is computed in-array per document (no
    token explode at all), then ONE language-keyed map-side-combined
    aggregate over integer sums — BIGINT-exact, so both engines feed
    the final divisions identical values."""
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    hits = F.size(
        F.filter(
            F.split("text", " "),
            lambda x: (x == "the") | (x == "a") | (x == "and"),
        )
    )
    d = docs.select(
        F.when(hits * 10 >= F.size(toks), F.lit("en"))
        .otherwise(F.lit("und"))
        .alias("lang_pred"),
        F.size(toks).cast("bigint").alias("n_tok"),
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).alias("n_chars"),
    )
    return d.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.when(
            F.sum("n_tok") > 0,
            F.round(F.sum("n_chars") / F.sum("n_tok").cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("chars_per_token"),
        F.round(F.sum("n_tok") / F.count(F.lit(1)).cast("double"), 6).alias(
            "tokens_per_doc"
        ),
    )


BURST_TOP_K = 256


def term_burstiness(docs: DataFrame, top_k: int = BURST_TOP_K) -> DataFrame:
    """Term burstiness (Church & Gale 1995: collection frequency /
    document frequency) for the ``top_k`` highest-CF tokens —
    tokens with burstiness near 1 spread evenly (function words);
    high burstiness marks topical/template terms, the signal behind
    df-capped stopword lists and boilerplate vocabularies.  Output:
    (tok, cf, df, burstiness) with burstiness rounded to 6, head
    order = (cf desc, tok asc).

    Scale shape: one token explode feeding TWO map-side-combinable
    aggregates from the same shuffle key (cf = count, df = distinct
    docs via a pre-distinct), then a distributed top-k
    (TakeOrderedAndProject) — the vocabulary is never sorted
    globally or collected."""
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("tok"),
    )
    cf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cf"))
    df_ = (
        toks.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        cf.join(df_, "tok")
        .select(
            "tok",
            "cf",
            "df",
            F.round(F.col("cf") / F.col("df").cast("double"), 6).alias("burstiness"),
        )
        .orderBy(F.col("cf").desc(), "tok")
        .limit(top_k)
    )


# seeded taxonomy for topic_assignment: tiny, fixed, alphabetical —
# the WebOrganizer-style domain taxonomy shrunk to the fixture
# vocabulary; tie-breaks go to the first (alphabetically smallest)
# topic via the fixed >= CASE chain, identically on both engines
TOPIC_SEEDS = (
    ("execution", ("scan", "hash", "merge", "sort")),
    ("relational", ("join", "filter", "group", "agg")),
    ("storage", ("table", "column", "row", "data")),
)


def topic_assignment(docs: DataFrame) -> DataFrame:
    """Seed-keyword taxonomy labeling (the WebOrganizer /
    curated-domain-mixing pattern: assign every document to a topic
    from tiny curated seed lists, then rebalance the corpus per
    topic): per document, count seed hits per topic in-array, assign
    the argmax topic (ties to the alphabetically first; zero hits ->
    'other').  Output: (doc_id, topic, n_hits, score) where score =
    n_hits / n_tokens rounded to 6 (0.0 for empty docs).

    Scale shape: ONE map-side projection — no shuffle at all; seed
    lists are compile-time constants folded into the plan."""
    toks = F.filter(F.split("text", " "), lambda x: x != "")

    def hits(seeds):
        def is_seed(x):
            cond = x == seeds[0]
            for s in seeds[1:]:
                cond = cond | (x == s)
            return cond

        return F.size(F.filter(toks, is_seed))

    d = docs.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        *[hits(seeds).alias(f"_h{i}") for i, (_, seeds) in enumerate(TOPIC_SEEDS)],
    )
    h0, h1, h2 = F.col("_h0"), F.col("_h1"), F.col("_h2")
    best_hits = F.greatest(h0, h1, h2)
    topic = (
        F.when(best_hits == 0, F.lit("other"))
        .when((h0 >= h1) & (h0 >= h2), F.lit(TOPIC_SEEDS[0][0]))
        .when(h1 >= h2, F.lit(TOPIC_SEEDS[1][0]))
        .otherwise(F.lit(TOPIC_SEEDS[2][0]))
    )
    return d.select(
        "doc_id",
        topic.alias("topic"),
        F.when(best_hits == 0, F.lit(0)).otherwise(best_hits).cast("bigint").alias("n_hits"),
        F.when(
            (F.col("n_toks") > 0) & (best_hits > 0),
            F.round(best_hits / F.col("n_toks").cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("score"),
    )


def retrieval_triplets(pairs: DataFrame, id_space: int) -> DataFrame:
    """Contrastive retrieval-training triplets from near-duplicate
    supervision (the SimCSE/E5 weak-supervision pattern: near-dups
    are positives, everything else is negative): each LSH candidate
    pair (a, b) becomes (anchor=a, positive=b, negative=n) with the
    negative drawn deterministically from the id space via the
    repo-standard md5 decode; rows whose draw collides with the
    anchor or positive are dropped (deterministically on both
    engines) rather than re-drawn.

    Output: (anchor, positive, negative).

    Scale shape: ONE map-side projection over the (already
    bucket-capped) candidate-pair table — no join, no shuffle; the
    negative existing in the corpus is guaranteed by drawing modulo
    the id space the caller derives from the corpus."""
    neg = (
        F.expr(
            "CAST(conv(substr(md5(concat(CAST(doc_a AS STRING), ':',"
            " CAST(doc_b AS STRING))), 1, 13), 16, 10) AS BIGINT)"
        )
        % id_space
    )
    return (
        pairs.select(
            F.col("doc_a").alias("anchor"),
            F.col("doc_b").alias("positive"),
            neg.alias("negative"),
        )
        .filter(
            (F.col("negative") != F.col("anchor"))
            & (F.col("negative") != F.col("positive"))
        )
    )


NLL_SPIKE_WINDOW = 16


def nll_spikes(docs: DataFrame, window: int = NLL_SPIKE_WINDOW) -> DataFrame:
    """Local-quality segmentation by sliding-window unigram NLL —
    the windowed variant of the CCNet-style perplexity filter: a doc
    whose MEAN NLL is fine can still hide a gibberish patch; the max
    over sliding ``window``-token windows exposes it.  Per document:
    (doc_id, n_windows, max_window_nll) where window NLL is the mean
    of -ln(cf/T) over the window's tokens, rounded to 6.

    Scale shape: one token explode + one vocabulary-keyed equi-join
    against the unigram frequency table (the corpus never joins
    itself), then ONE doc-keyed sliding window (ROWS BETWEEN 0 AND
    window-1) and a doc-keyed max — both ride the same doc_id
    partitioning.  Window sums are computed in position order on
    both engines (identical IEEE add chains).  Documents shorter
    than ``window`` tokens score their single full-doc window."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.posexplode(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "pos", "tok"
        ),
    )
    cf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cf"))
    tot = cf.agg(F.sum("cf").alias("t_total"))
    scored = (
        toks.join(cf, "tok")
        .crossJoin(F.broadcast(tot))  # single-row totals frame
        .select(
            "doc_id",
            "pos",
            (-F.log(F.col("cf").cast("double") / F.col("t_total"))).alias("nll"),
        )
    )
    dw = Window.partitionBy("doc_id").orderBy("pos")
    frame = dw.rowsBetween(0, window - 1)
    n_toks = F.count(F.lit(1)).over(dw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    windows = scored.select(
        "doc_id",
        F.avg("nll").over(frame).alias("wnll"),
        F.col("pos"),
        n_toks.alias("n_toks"),
    ).filter(
        # full windows only — except the doc-length window of a short doc
        (F.col("pos") + window <= F.col("n_toks")) | (F.col("pos") == 0)
    )
    return windows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.round(F.max("wnll"), 6).alias("max_window_nll"),
    )


OOV_VOCAB_K = 1024


def oov_rates(docs: DataFrame, vocab_k: int = OOV_VOCAB_K) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-``vocab_k`` unigram vocabulary — the tokenizer-coverage
    diagnostic (docs with high OOV against the corpus head are
    foreign-script, encoding-damaged, or template noise).  Output:
    (doc_id, n_toks, n_oov, oov_rate) with oov_rate rounded to 6
    (0.0 for empty docs).

    Scale shape: one token explode + one map-side-combinable count,
    a distributed top-k for the vocabulary (TakeOrderedAndProject),
    then a BROADCAST join of the constant-sized vocab against the
    token stream and one doc-keyed aggregate."""
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cf"))
        .orderBy(F.col("cf").desc(), "tok")
        .limit(vocab_k)
        .select("tok", F.lit(1).alias("_in"))
    )
    flagged = toks.join(F.broadcast(vocab), "tok", "left")
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    base = docs.select("doc_id")
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_toks", F.lit(0)).cast("bigint").alias("n_toks"),
        F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
        F.when(
            F.coalesce("n_toks", F.lit(0)) > 0,
            F.round(
                F.coalesce("n_oov", F.lit(0))
                / F.coalesce("n_toks", F.lit(1)).cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("oov_rate"),
    )


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document character-level Shannon entropy — the classic
    gibberish/encoding-damage detector (natural text sits in a
    narrow entropy band; base64 blobs, mojibake and key-mash sit
    above it, repeated-char padding below): (doc_id, n_chars,
    entropy) with entropy = -sum p ln p over the doc's character
    distribution, rounded to 6 (empty docs publish 0.0).

    Scale shape: one character explode (the shingle-scan shape the
    dedup family already runs) + one (doc, char) count, one doc-keyed
    total, one doc-keyed equi-join and one doc-keyed sum — everything
    rides the doc_id partitioning; nothing crosses documents.  The
    per-char terms are identical doubles on both engines (exact
    integer ratios through ln); the final sum is over alphabet-sized
    term sets, so cross-engine summation-order error is ~1e-15 —
    far inside the 1e-6 rounding."""
    ch = (
        docs.filter(F.length("text") >= 1)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
            "text",
        )
        .select("doc_id", F.expr("substr(text, i, 1)").alias("c"))
    )
    counts = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("doc_id").agg(F.sum("n").alias("nt"))
    ent = (
        counts.join(totals, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.round(
                -F.sum(
                    (F.col("n") / F.col("nt").cast("double"))
                    * F.log(F.col("n") / F.col("nt").cast("double"))
                ),
                6,
            ).alias("entropy"),
            F.max("nt").cast("bigint").alias("n_chars"),
        )
    )
    return (
        docs.select("doc_id")
        .join(ent, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chars", F.lit(0)).cast("bigint").alias("n_chars"),
            F.coalesce("entropy", F.lit(0.0)).alias("entropy"),
        )
    )


COMENTION_CAP = 16
COMENTION_MIN = 3


def comention_graph(docs: DataFrame, cap: int = COMENTION_CAP, min_pair: int = COMENTION_MIN) -> DataFrame:
    """Document-level entity co-mention graph with PMI weights — the
    co-occurrence network KG-enrichment reads relation candidates
    from (two surfaces that keep appearing in the same documents are
    related even when no cue token links them; the complement of the
    adjacency-based ``span_triples``): (mention_a, mention_b,
    n_docs_pair, pmi) for unordered pairs co-mentioned in at least
    ``min_pair`` documents.

    Per-doc pair volume is bounded BY CONSTRUCTION: each document
    contributes pairs only from its first ``cap`` distinct mention
    surfaces (lexicographic — deterministic on both engines), so a
    mention-stuffed document yields at most cap*(cap-1)/2 pairs
    instead of a quadratic blowup (the hub-cap convention of the
    graph family applied to documents).

    Scale shape: one in-array distinct+sort+slice per doc, one
    in-array pair expansion (<= cap² per doc), two map-side counts,
    two vocabulary-keyed joins, one single-row totals broadcast; the
    pmi ln() input is the fixed double-ratio chain (c/df_a)*(n/df_b)
    — identical IEEE ops on both engines."""
    ms = F.slice(
        F.array_sort(F.array_distinct(_find_mentions("text"))), 1, cap
    )
    d = docs.select(ms.alias("ms")).filter(F.size("ms") >= 2)
    pairs = F.expr(
        "flatten(transform(ms, (x, i) -> "
        "transform(slice(ms, i + 2, size(ms)), "
        "y -> struct(x AS m_a, y AS m_b))))"
    )
    co = (
        d.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.m_a").alias("m_a"), F.col("p.m_b").alias("m_b"))
        .agg(F.count(F.lit(1)).alias("n_docs_pair"))
        .filter(F.col("n_docs_pair") >= min_pair)
    )
    dfreq = (
        docs.select(ms.alias("ms"))
        .select(F.explode("ms").alias("m"))
        .groupBy("m")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        co.join(dfreq.select(F.col("m").alias("m_a"), F.col("df").alias("da")), "m_a")
        .join(dfreq.select(F.col("m").alias("m_b"), F.col("df").alias("db")), "m_b")
        .crossJoin(F.broadcast(n_docs))  # single-row totals frame
        .select(
            F.col("m_a").alias("mention_a"),
            F.col("m_b").alias("mention_b"),
            "n_docs_pair",
            F.round(
                F.log(
                    (F.col("n_docs_pair").cast("double") / F.col("da"))
                    * (F.col("n_docs").cast("double") / F.col("db"))
                ),
                6,
            ).alias("pmi"),
        )
    )


WL_MIN_TOKENS = 10
WL_MAX_TOP_SHARE_PCT = 20  # top token > 20% of doc -> repetitive vote fails


def weak_labels(docs: DataFrame) -> DataFrame:
    """Weak-supervision ensemble filter (the Snorkel-style labeling-
    function vote, reduced to three deterministic corpus heuristics):
    per document the three votes — language (the lang_id stopword
    test), length (>= WL_MIN_TOKENS tokens), repetition (top token
    <= WL_MAX_TOP_SHARE_PCT% of tokens, integer-compared) — plus
    n_pass and the unanimous keep verdict.  Output: (doc_id,
    lang_ok, len_ok, rep_ok, n_pass, keep).

    Scale shape: ONE map-side projection, zero shuffles — all three
    votes are in-array expressions; the ensemble is a CASE sum."""
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    hits = F.size(
        F.filter(
            F.split("text", " "),
            lambda x: (x == "the") | (x == "a") | (x == "and"),
        )
    )
    n = F.size(toks)
    # top token share via in-array mode: sort, then longest run
    top_run = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    lang_ok = hits * 10 >= n
    len_ok = n >= WL_MIN_TOKENS
    rep_ok = (n > 0) & (top_run * 100 <= WL_MAX_TOP_SHARE_PCT * n)
    n_pass = (
        lang_ok.cast("int") + len_ok.cast("int") + rep_ok.cast("int")
    ).cast("int")
    return docs.select(
        "doc_id",
        lang_ok.alias("lang_ok"),
        len_ok.alias("len_ok"),
        rep_ok.alias("rep_ok"),
        n_pass.alias("n_pass"),
        (n_pass == 3).alias("keep"),
    )


SPLIT_TEST_MOD = 10  # ~10% test


def leakage_safe_split(
    survivors: DataFrame, test_mod: int = SPLIT_TEST_MOD
) -> DataFrame:
    """Dedup-aware train/test split — the leakage guard real corpus
    pipelines need (Lee et al. 2022: near-duplicates straddling a
    naive split leak test content into training): documents are
    assigned to a split by hashing their dedup-cluster SURVIVOR, so
    every member of a near-dup cluster lands on the same side.
    Input is the ``dedup_survivors`` output (doc_id, survivor,
    is_dup); output adds ``split`` ('test' when the md5 decode of
    'split:' || survivor mod ``test_mod`` is 0, else 'train').

    Scale shape: ONE map-side projection over the survivor table —
    the cluster structure was already paid for by the dedup
    pipeline."""
    h = (
        F.expr(
            "CAST(conv(substr(md5(concat('split:', CAST(survivor AS STRING))),"
            " 1, 13), 16, 10) AS BIGINT)"
        )
        % test_mod
    )
    return survivors.select(
        "doc_id",
        "survivor",
        F.when(h == 0, F.lit("test")).otherwise(F.lit("train")).alias("split"),
    )


def split_leakage_audit(
    pairs: DataFrame, docs: DataFrame, test_mod: int = SPLIT_TEST_MOD
) -> DataFrame:
    """The motivation metric for ``leakage_safe_split``: how many
    near-duplicate candidate pairs straddle a NAIVE per-document
    hash split — every crossing pair is test-set contamination.
    One row: (n_pairs, n_cross, leak_rate rounded 6).

    Scale shape: the (already capped) LSH pair table gets one
    map-side split assignment per side (no join against the corpus
    at all — the split is a pure function of doc_id) and one
    single-row aggregate."""
    def side(col):
        return (
            F.expr(
                f"CAST(conv(substr(md5(concat('split:', CAST({col} AS STRING))),"
                " 1, 13), 16, 10) AS BIGINT)"
            )
            % test_mod
            == 0
        )

    flagged = pairs.select(
        (side("doc_a") != side("doc_b")).cast("int").alias("crosses")
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("crosses").cast("bigint").alias("n_cross"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.round(F.sum("crosses") / F.count(F.lit(1)).cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("leak_rate"),
    )


HASH_VEC_DIMS = 16


def hash_doc_vectors(docs: DataFrame, dims: int = HASH_VEC_DIMS) -> DataFrame:
    """Feature-hashing doc vectors (Weinberger et al. 2009's hashing
    trick): each token hashes to one of ``dims`` buckets with a
    +-1 sign from a second hash bit; the doc vector is the signed
    bucket-count array — the memory-bounded bag-of-words
    representation linear classifiers train on at corpus scale
    (exact BIGINT counts, so the oracle compares exactly; no float
    features).  Output: (doc_id, f0..f{dims-1}).

    Scale shape: one token explode + one (doc, bucket) count + one
    doc-keyed pivot via conditional sums — all riding the doc_id
    partitioning."""
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("tok"),
    )
    hv = toks.select(
        "doc_id",
        F.expr(
            "CAST(conv(substr(md5(concat('fh:', tok)), 1, 13), 16, 10) AS BIGINT)"
        ).alias("h"),
    ).select(
        "doc_id",
        (F.col("h") % dims).cast("int").alias("b"),
        F.when(F.expr(f"(h div {dims}) % 2") == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    agg = hv.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("b") == i, F.col("sgn")).otherwise(0))
            .cast("bigint")
            .alias(f"f{i}")
            for i in range(dims)
        ]
    )
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        *[F.coalesce(f"f{i}", F.lit(0)).cast("bigint").alias(f"f{i}") for i in range(dims)],
    )


DRIFT_HEAD_K = 256


def source_drift(docs: DataFrame, head_k: int = DRIFT_HEAD_K) -> DataFrame:
    """Per-source vocabulary drift against the corpus: the L1
    (total-variation x2) distance between each source's unigram
    distribution and the whole-corpus distribution, measured over
    the corpus's top-``head_k`` tokens plus one OTHER bucket — the
    domain-shift report a mixing planner reads before reweighting
    sources (a drifted source needs its own budget, not the global
    one).  Output: (source, n_tokens, l1_drift) rounded to 6.

    Scale shape: one token explode + two map-side counts, a
    distributed top-k head, then all arithmetic happens on
    (sources x head_k)-sized frames — the corpus is touched exactly
    twice and never joined against itself; every ratio is an exact
    BIGINT pair fed to one division."""
    toks = docs.select(
        "source",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("tok"),
    )
    cf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cf"))
    head = (
        cf.orderBy(F.col("cf").desc(), "tok").limit(head_k).localCheckpoint()
    )
    n_tot = cf.agg(F.sum("cf").alias("n_total"))
    st = (
        toks.join(F.broadcast(head.select("tok")), "tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )
    n_s = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    grid = n_s.select("source", "n_s").crossJoin(F.broadcast(head))  # sources x head
    terms = (
        grid.join(st, ["source", "tok"], "left")
        .crossJoin(F.broadcast(n_tot))  # single-row totals frame
        .select(
            "source",
            "n_s",
            "n_total",
            F.coalesce("c_st", F.lit(0)).alias("c_st"),
            "cf",
            F.abs(
                F.coalesce("c_st", F.lit(0)) / F.col("n_s").cast("double")
                - F.col("cf") / F.col("n_total").cast("double")
            ).alias("term"),
        )
    )
    per_source = terms.groupBy("source").agg(
        F.max("n_s").alias("n_tokens"),
        F.sum("term").alias("head_l1"),
        F.sum("c_st").alias("head_c"),
        F.max("n_total").alias("n_total"),
        F.sum("cf").alias("head_cf"),
    )
    other = F.abs(
        (F.col("n_tokens") - F.col("head_c")) / F.col("n_tokens").cast("double")
        - (F.col("n_total") - F.col("head_cf")) / F.col("n_total").cast("double")
    )
    return per_source.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("head_l1") + other, 6).alias("l1_drift"),
    )


# quality-signal correlation matrix: signals are held in integer
# PERMILLE so every aggregate sum is a sum of integers well inside
# the 2^53 exact-double window — engine-order-independent, so the
# DuckDB transcription matches to the last rounded digit
SIGNAL_COLS = ("n_chars", "n_tok", "ttr_pm", "digit_pm")


def signal_correlations(docs: DataFrame) -> DataFrame:
    """Pairwise Pearson correlation across per-document quality
    signals -> (sig_a, sig_b, n, r): the redundancy audit a curation
    run reads before combining signals into a filter (two signals
    with |r| ~ 1 contribute one vote, not two — cf. the signal
    ensembling discussion in Gopher / RefinedWeb data work).

    Signals: n_chars (text length), n_tok (whitespace tokens),
    ttr_pm (type-token ratio, integer permille), digit_pm (digit
    character fraction, integer permille).  All four are INTEGER
    per-row values, so the sufficient statistics (Sx, Sxx, Sxy) are
    exact under any summation order; r is assembled from them in one
    final double expression, rounded to 6.  Zero-variance signals
    publish r = NULL.

    Scale shape: ONE map-side-combined single-row aggregate over the
    corpus (15 sums + a count), then a 6-row driver-side unpivot —
    no shuffle wider than the partial-aggregate tree."""
    toks = F.expr("filter(split(text, ' '), x -> x != '')")
    sig = docs.filter(F.length("text") > 0).select(
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("n_tok"),
        F.expr(
            "CASE WHEN size(filter(split(text, ' '), x -> x != '')) > 0 THEN "
            "(1000 * size(array_distinct(filter(split(text, ' '), x -> x != '')))) "
            "DIV size(filter(split(text, ' '), x -> x != '')) ELSE 0 END"
        ).alias("ttr_pm"),
        F.expr(
            "(1000 * (length(text) - length(regexp_replace(text, '[0-9]', '')))) "
            "DIV length(text)"
        ).alias("digit_pm"),
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in SIGNAL_COLS:
        aggs.append(F.sum(F.col(c).cast("double")).alias(f"s_{c}"))
        aggs.append(F.sum((F.col(c) * F.col(c)).cast("double")).alias(f"ss_{c}"))
    pairs = [
        (a, b) for i, a in enumerate(SIGNAL_COLS) for b in SIGNAL_COLS[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(F.sum((F.col(a) * F.col(b)).cast("double")).alias(f"sp_{a}_{b}"))
    tot = sig.agg(*aggs)
    rows = []
    for a, b in pairs:
        num = f"(n * sp_{a}_{b} - s_{a} * s_{b})"
        den = f"sqrt((n * ss_{a} - s_{a} * s_{a}) * (n * ss_{b} - s_{b} * s_{b}))"
        rows.append(
            f"struct('{a}' AS sig_a, '{b}' AS sig_b, n, "
            f"CASE WHEN {den} > 0 THEN round({num} / {den}, 6) END AS r)"
        )
    return tot.select(
        F.explode(F.expr("array(" + ", ".join(rows) + ")")).alias("x")
    ).select("x.sig_a", "x.sig_b", "x.n", "x.r")


# FIM (fill-in-the-middle) transform constants: apply to the
# hash-selected half of eligible docs (the 50% FIM rate of Bavarian
# et al. 2022, "Efficient Training of Language Models to Fill in the
# Middle"), PSM (prefix-suffix-middle) arrangement
FIM_MIN_TOKENS = 4


def fim_pairs(docs: DataFrame) -> DataFrame:
    """Deterministic fill-in-the-middle training transform ->
    (doc_id, fim_applied, text_out, n_prefix, n_middle, n_suffix).
    For the md5-selected half of docs with >= FIM_MIN_TOKENS tokens,
    two hash-derived token split points carve (prefix, middle,
    suffix) and text_out is the PSM rearrangement
    ``<PRE> prefix <SUF> suffix <MID> middle``; all other docs pass
    through verbatim.  Hash-in-place-of-RNG (the repo convention), so
    the transform is reproducible across engines/runs/partitionings
    and the DuckDB transcription is exact.

    Scale shape: map-only — split points come from per-row md5
    arithmetic, slicing is in-array; no shuffle at all."""
    h = (
        "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), '{tag}')), 1, 13),"
        " 16, 10) AS BIGINT)"
    )
    d = docs.select(
        "doc_id",
        "text",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("toks"),
    ).select(
        "doc_id",
        "text",
        "toks",
        F.size("toks").cast("bigint").alias("n_tok"),
        (F.expr(h.format(tag=":fimsel")) % 2 == 0).alias("selected"),
        F.expr(h.format(tag=":fim1")).alias("h1"),
        F.expr(h.format(tag=":fim2")).alias("h2"),
    )
    d = d.withColumn(
        "fim_applied", F.col("selected") & (F.col("n_tok") >= F.lit(FIM_MIN_TOKENS))
    )
    # split1 in [1, n_tok-2], split2 in [split1+1, n_tok-1]
    d = d.withColumn(
        "s1", F.when(F.col("fim_applied"), F.lit(1) + F.col("h1") % (F.col("n_tok") - 2))
    ).withColumn(
        "s2",
        F.when(
            F.col("fim_applied"),
            F.col("s1") + 1 + F.col("h2") % (F.col("n_tok") - F.col("s1") - 1),
        ),
    )
    return d.select(
        "doc_id",
        "fim_applied",
        F.when(
            F.col("fim_applied"),
            F.concat(
                F.lit("<PRE> "),
                F.expr("array_join(slice(toks, 1, CAST(s1 AS INT)), ' ')"),
                F.lit(" <SUF> "),
                F.expr(
                    "array_join(slice(toks, CAST(s2 + 1 AS INT),"
                    " CAST(n_tok - s2 AS INT)), ' ')"
                ),
                F.lit(" <MID> "),
                F.expr(
                    "array_join(slice(toks, CAST(s1 + 1 AS INT),"
                    " CAST(s2 - s1 AS INT)), ' ')"
                ),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text_out"),
        F.coalesce(F.when(F.col("fim_applied"), F.col("s1")), F.lit(0))
        .cast("bigint")
        .alias("n_prefix"),
        F.coalesce(F.when(F.col("fim_applied"), F.col("s2") - F.col("s1")), F.lit(0))
        .cast("bigint")
        .alias("n_middle"),
        F.coalesce(
            F.when(F.col("fim_applied"), F.col("n_tok") - F.col("s2")), F.lit(0)
        )
        .cast("bigint")
        .alias("n_suffix"),
    )


# fuzzy decontamination / hard-negative mining thresholds: a verified
# candidate with shingle Jaccard >= PCT/100 is contamination; below
# it, the highest-overlap non-duplicate partners are the classic
# "hard negatives" for retrieval training.  The flag compares the
# ROUNDED jaccard against PCT/100: shingle-set sizes are bounded by
# text length, so no true ratio can sit within rounding distance of
# the threshold without being exactly on it.
FUZZY_DECON_PCT = 50
HARD_NEG_K = 3


def _eval_candidate_scores(
    train: DataFrame,
    eval_docs: DataFrame,
    max_bucket: int = MAX_BUCKET,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Shared candidate machinery for fuzzy_decontaminate /
    hard_negatives: MinHash-LSH collisions BETWEEN the train and eval
    splits (never train-train), verified with exact shingle Jaccard
    -> (doc_a = train doc, doc_b = eval doc, jaccard).

    Bucket occupancy is computed over BOTH splits' signatures and
    capped exactly like lsh_candidates (a boilerplate bucket is
    train-side-huge and would pair with every eval member); the eval
    signature table is benchmark-sized and broadcast, so the train
    corpus shuffles only its capped signatures."""
    all_docs = train.select("doc_id", "text").unionByName(
        eval_docs.select("doc_id", "text")
    )
    # ``sigs``: precomputed minhash_signatures over train+eval (row-
    # deterministic, so any identical-rowset signature table gives the
    # same buckets) — lets a caller reuse a session-shared signature
    # build instead of re-shingling the corpus per query
    if sigs is None:
        sigs = minhash_signatures(all_docs)
    sizes = sigs.groupBy("band", "minhash").agg(F.count(F.lit(1)).alias("_bc"))
    ok = sizes.filter((F.col("_bc") >= 2) & (F.col("_bc") <= max_bucket)).select(
        "band", "minhash"
    )
    sigf = sigs.join(ok, ["band", "minhash"], "left_semi")
    ev_ids = eval_docs.select("doc_id")
    ev_sig = sigf.join(F.broadcast(ev_ids), "doc_id", "left_semi").select(
        "band", "minhash", F.col("doc_id").alias("doc_b")
    )
    tr_sig = sigf.join(F.broadcast(ev_ids), "doc_id", "left_anti")
    pairs = (
        tr_sig.join(F.broadcast(ev_sig), ["band", "minhash"])
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    return ngram_jaccard(all_docs, pairs)


def fuzzy_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    max_bucket: int = MAX_BUCKET,
    pct: int = FUZZY_DECON_PCT,
    scored: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate benchmark decontamination -> (doc_id,
    n_candidates, max_jaccard, contaminated): catches the
    paraphrased/perturbed eval leakage that exact n-gram overlap
    (decontaminate) and exact substrings (substring_decontaminate)
    miss — the MinHash tier of the standard three-tier
    decontamination stack.  n_candidates counts verified LSH
    partners (shared shingle >= 1); contaminated fires when the best
    verified Jaccard reaches pct/100.  ``scored`` overrides the
    candidate scoring (a session-shared _eval_candidate_scores build)."""
    if scored is None:
        scored = _eval_candidate_scores(train, eval_docs, max_bucket)
    g = scored.groupBy("doc_a").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return train.select("doc_id").join(
        g, train["doc_id"] == g["doc_a"], "left"
    ).select(
        "doc_id",
        F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
        F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
        (F.coalesce("max_jaccard", F.lit(0.0)) >= F.lit(pct) / 100.0).alias(
            "contaminated"
        ),
    )


def hard_negatives(
    train: DataFrame,
    eval_docs: DataFrame,
    k: int = HARD_NEG_K,
    max_bucket: int = MAX_BUCKET,
    pct: int = FUZZY_DECON_PCT,
    scored: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for retrieval training -> (query_id,
    neg_id, jaccard, rank): per eval/query doc, the top-k
    highest-overlap train docs that are NOT near-duplicates
    (verified jaccard below the contamination threshold) — lexically
    close but non-duplicate partners, the negatives that actually
    teach a retriever its decision boundary (cf. dense-retrieval
    hard-negative practice).  Rank ties break on doc id, so the
    export is deterministic.  ``scored`` overrides the candidate
    scoring (a session-shared _eval_candidate_scores build)."""
    from pyspark.sql import Window

    if scored is None:
        scored = _eval_candidate_scores(train, eval_docs, max_bucket)
    w = Window.partitionBy("doc_b").orderBy(F.desc("jaccard"), F.asc("doc_a"))
    return (
        scored.filter(F.col("jaccard") < F.lit(pct) / 100.0)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("doc_b").alias("query_id"),
            F.col("doc_a").alias("neg_id"),
            "jaccard",
            "rank",
        )
    )


# repeating training data beyond ~4 epochs stops helping (Muennighoff
# et al. 2023, "Scaling Data-Constrained Language Models") — the
# upsampling plan caps there
MAX_REPEAT_EPOCHS = 4


def source_repeat_factors(
    docs: DataFrame, alpha: float = 0.5, max_epochs: int = MAX_REPEAT_EPOCHS
) -> DataFrame:
    """Per-source epoch/repeat plan that REALIZES the temperature
    mixture with upsampling (the complement of source_mixing, whose
    keep rate is capped at 1.0) -> (source, n_docs, n_tokens,
    raw_factor, n_full_epochs, partial_per_1000).

    raw_factor = weight_s * total_tokens / tokens_s is how many times
    the source must be repeated to hit its alpha-mixture share at the
    full-corpus token budget; it is capped at ``max_epochs`` and
    published as an INTEGER plan — n_full_epochs full passes plus one
    hash-threshold partial pass at partial_per_1000 per mille — the
    exact format stratified_sample consumes.

    Scale shape: one per-source aggregate (vocabulary-sized) + a
    single-row totals broadcast; nothing grows with the corpus."""
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_token_array())).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum(F.pow("n_tokens", alpha)).alias("s_pow"),
        F.sum("n_tokens").alias("s_tok"),
    )
    w = F.when(
        F.col("s_pow") > 0, F.pow("n_tokens", alpha) / F.col("s_pow")
    ).otherwise(F.lit(0.0))
    raw = F.when(
        F.col("n_tokens") > 0, w * F.col("s_tok") / F.col("n_tokens")
    ).otherwise(F.lit(0.0))
    capped = F.least(F.lit(float(max_epochs)), raw)
    nf = F.floor(capped).cast("bigint")
    return per.crossJoin(F.broadcast(tot)).select(  # single-row totals
        "source",
        "n_docs",
        "n_tokens",
        F.round(raw, 6).alias("raw_factor"),
        nf.alias("n_full_epochs"),
        F.floor(F.lit(1000) * (capped - nf)).cast("bigint").alias(
            "partial_per_1000"
        ),
    )


def sop_pairs(docs: DataFrame, width: int = CHUNK_TOKENS) -> DataFrame:
    """Sentence-order-prediction training pairs (ALBERT's SOP
    objective, Lan et al. 2020) over fixed-width chunks ->
    (doc_id, first_chunk, text_a, text_b, label): every consecutive
    chunk pair becomes one example — the md5-selected half stays in
    document order (label 1), the other half is SWAPPED (label 0) —
    the coherence objective that, unlike NSP, cannot be solved by
    topic alone because both segments always come from the same
    document.  Hash-in-place-of-RNG: the split is balanced and
    reproducible across engines/runs/partitionings.

    Scale shape: the chunking is map-only; the only shuffle is ONE
    per-doc lead window."""
    from pyspark.sql import Window

    ch = _chunked(docs, width)
    w = Window.partitionBy("doc_id").orderBy("chunk_id")
    p = ch.withColumn("next_text", F.lead("chunk_text").over(w)).filter(
        F.col("next_text").isNotNull()
    )
    sel = (
        F.expr(
            "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':',"
            " CAST(chunk_id AS STRING), ':sop')), 1, 13), 16, 10) AS BIGINT)"
        )
        % 2
        == 0
    )
    return p.select(
        "doc_id",
        F.col("chunk_id").alias("first_chunk"),
        F.when(sel, F.col("chunk_text")).otherwise(F.col("next_text")).alias("text_a"),
        F.when(sel, F.col("next_text")).otherwise(F.col("chunk_text")).alias("text_b"),
        F.when(sel, F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )


# BERT masked-LM plan constants (Devlin et al. 2019): 15% of tokens
# selected; of those 80% masked, 10% replaced by a random token, 10%
# kept
MLM_SELECT_PER_1000 = 150


def mlm_masks(docs: DataFrame, select_per_1000: int = MLM_SELECT_PER_1000) -> DataFrame:
    """Deterministic masked-LM masking plan -> (doc_id, token_idx,
    token, action, replacement): the per-position mask/random/keep
    decisions a BERT-style pretraining run applies, exported as data
    so the masking is reproducible across epochs/engines (hash-in-
    place-of-RNG).  Only SELECTED positions are emitted (~15% of the
    token stream); action follows the 80/10/10 split; the 'random'
    replacement is a hash-picked token from the SAME document (a
    corpus-vocabulary draw would need a broadcast — the in-doc draw
    keeps the plan map-only), 'mask' emits the [MASK] sentinel and
    'keep' repeats the token.

    Scale shape: posexplode + per-row md5 arithmetic — map-only, no
    shuffle at all."""
    h = (
        "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':',"
        " CAST(token_idx AS STRING), '{tag}')), 1, 13), 16, 10) AS BIGINT)"
    )
    d = (
        docs.select(
            "doc_id",
            F.posexplode(_token_array()).alias("token_idx", "token"),
            F.size(_token_array()).alias("n_tok"),
            _token_array().alias("toks"),
        )
        .filter(
            F.expr(h.format(tag=":mlm")) % 1000 < F.lit(select_per_1000)
        )
        .withColumn("act", F.expr(h.format(tag=":mlmact")) % 10)
        .withColumn("ridx", (F.expr(h.format(tag=":mlmrep")) % F.col("n_tok")))
    )
    action = (
        F.when(F.col("act") <= 7, F.lit("mask"))
        .when(F.col("act") == 8, F.lit("random"))
        .otherwise(F.lit("keep"))
    )
    replacement = (
        F.when(F.col("act") <= 7, F.lit("[MASK]"))
        .when(
            F.col("act") == 8,
            F.expr("toks[CAST(ridx AS INT)]"),
        )
        .otherwise(F.col("token"))
    )
    return d.select(
        "doc_id",
        "token_idx",
        "token",
        action.alias("action"),
        replacement.alias("replacement"),
    )


# C4-style blocklist filtering (Raffel et al. 2020 filtered documents
# containing any term from a public blocklist).  The lexicon here is
# a fixture-vocabulary stand-in — the OPERATOR semantics (token-set
# membership count + keep flag + first matched term) are what a real
# deployment swaps its own list into.
BLOCKLIST_TERMS = ("slow", "error", "drop")


def blocklist_filter(docs: DataFrame, terms: tuple = BLOCKLIST_TERMS) -> DataFrame:
    """Wordlist-based document filter -> (doc_id, n_blocked_tokens,
    n_blocked_terms, first_term, keep): per doc, how many token
    OCCURRENCES hit the blocklist, how many DISTINCT terms, the
    lexicographically first matched term (deterministic evidence for
    an audit), and the C4 keep rule (keep = no hit at all).

    Scale shape: the lexicon is a literal array in the plan (a real
    list would broadcast) — the whole operator is one map-only
    in-array pass, zero shuffles."""
    toks = _token_array()
    lex = F.array(*[F.lit(t) for t in sorted(terms)])
    hits = F.filter(toks, lambda x: F.array_contains(lex, x))
    matched = F.array_sort(F.array_distinct(hits))
    return docs.select(
        "doc_id",
        F.size(hits).cast("bigint").alias("n_blocked_tokens"),
        F.size(matched).cast("bigint").alias("n_blocked_terms"),
        F.when(F.size(matched) > 0, matched[0]).alias("first_term"),
        (F.size(hits) == 0).alias("keep"),
    )


# Kneser-Ney absolute discount in ppm (D = 0.75) — integer-exact in
# both engines; the standard Chen & Goodman (1998) default
KN_DISCOUNT_PPM = 750_000


def kn_continuation(docs: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney bigram statistics (Kneser & Ney 1995;
    Chen & Goodman 1998) over the corpus's own bigrams — one row per
    DISTINCT observed bigram: (w1, w2, c_bigram, c_w1, n1p_right,
    p_cont_ppm, p_kn_ppm).

    The KN insight: the backoff probability of w2 is not its raw
    frequency but its CONTINUATION probability — how many distinct
    left contexts it follows ("Francisco" is frequent but nearly
    always follows "San", so it backs off near zero):
      p_cont(w2)  = N1+(. w2) / |distinct bigram types|
      lambda(w1)  = D * N1+(w1 .) / c(w1)
      p_kn(w2|w1) = max(c(w1 w2) - D, 0) / c(w1) + lambda(w1) * p_cont(w2)
    Everything after the counts is integer ppm arithmetic with a fixed
    operation order (greatest -> DIV -> multiply -> DIV), so both
    engines compute bit-identical probabilities — no float summation
    anywhere (the datasheet micro-unit pattern).

    Scale shape one notch up from bigram_nll: the bigram stream
    aggregates once (map-side combine) into the distinct-bigram table;
    the three marginals (left totals + right-type counts, left-type
    counts, the single-row type total) are aggregates OF that table,
    joined back on w1 resp. w2 — Zipf-keyed joins whose hot stopword
    keys are probe-side skew AQE splits.  Output is
    distinct-bigram-sized (linear in the corpus, vocab^2-capped)."""
    toks = docs.select("doc_id", _token_array().alias("toks"))
    bg = (
        toks.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks)-1),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("b")
        )
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    bf = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c_bigram"))
    # left marginal: total starts c(w1 .) and distinct right types N1+(w1 .)
    left = bf.groupBy("w1").agg(
        F.sum("c_bigram").cast("bigint").alias("c_w1"),
        F.count(F.lit(1)).cast("bigint").alias("n1p_right"),
    )
    # continuation counts: distinct left types N1+(. w2)
    cont = bf.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n1p_left"))
    types = bf.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    d = F.lit(KN_DISCOUNT_PPM)
    return (
        bf.join(left, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))  # single-row totals frame
        .select(
            "w1",
            "w2",
            "c_bigram",
            "c_w1",
            "n1p_right",
            F.expr("(1000000 * n1p_left) DIV n_types").alias("p_cont_ppm"),
            (
                F.expr(f"greatest(c_bigram * 1000000 - {KN_DISCOUNT_PPM}, 0) DIV c_w1")
                + F.expr(
                    f"(({KN_DISCOUNT_PPM} * n1p_right) DIV c_w1)"
                    f" * ((1000000 * n1p_left) DIV n_types) DIV 1000000"
                )
            ).cast("bigint").alias("p_kn_ppm"),
        )
    )


# robust-stats outlier gate: |q - median| > MAD_K * MAD
MAD_K = 3


def robust_source_stats(scored: DataFrame) -> DataFrame:
    """Exact per-source median / MAD / outlier profile over
    ``scored(doc_id, source, q_micro)`` -> one row per source:
    (source, n_docs, median_q_micro, mad_micro, n_outliers,
    outlier_ppm).  The robust drift monitor a curation pipeline runs
    per ingest source: medians don't move when a scraper starts
    emitting garbage, means do — outliers are |q - med| > 3 * MAD.

    Median/MAD are EXACT lower-medians (the ((n+1) DIV 2)-th smallest
    value) computed by the COUNT-BUCKET decomposition, never a full
    sort: q_micro lives in [0, 1e6], so the per-source VALUE histogram
    has at most 1e6+1 rows regardless of corpus size; the running
    total over histogram rows (a window over value-buckets, the
    shard_manifest two-phase pattern) finds the rank — exact medians
    over 10^12 docs without ever sorting documents.  Both deviation
    medians reuse the same trick.

    Scale shape: two value-keyed aggregates (map-side combine), two
    bounded windows over histogram rows, one broadcast join of the
    source-sized median table back onto the stream.  Integer-only."""

    def _bucket_median(vals: DataFrame, col: str) -> DataFrame:
        """(source, median) via the value-histogram running total."""
        hist = vals.groupBy("source", col).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_v")
        )
        tot = hist.groupBy("source").agg(F.sum("n_v").cast("bigint").alias("n"))
        w = (
            Window.partitionBy("source")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = hist.withColumn("cum", F.sum("n_v").over(w))
        return (
            cum.join(F.broadcast(tot), "source")
            .filter(F.col("cum") >= F.expr("(n + 1) DIV 2"))
            .groupBy("source")
            .agg(F.min(col).cast("bigint").alias("median"))
        )

    med = _bucket_median(scored, "q_micro").select(
        "source", F.col("median").alias("median_q_micro")
    )
    dev = scored.join(F.broadcast(med), "source").select(
        "source",
        F.abs(F.col("q_micro") - F.col("median_q_micro")).alias("dev"),
    )
    mad = _bucket_median(dev, "dev").select(
        "source", F.col("median").alias("mad_micro")
    )
    g = (
        scored.join(F.broadcast(med), "source")
        .join(F.broadcast(mad), "source")
        .groupBy("source", "median_q_micro", "mad_micro")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(
                    F.abs(F.col("q_micro") - F.col("median_q_micro"))
                    > MAD_K * F.col("mad_micro"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )
    return g.select(
        "source",
        "n_docs",
        "median_q_micro",
        "mad_micro",
        "n_outliers",
        F.expr("(1000000 * n_outliers) DIV n_docs").alias("outlier_ppm"),
    )


# LSH band-parameter sweep: (rows-per-band, bands) with r*b = 16
# minhashes, the repo's signature budget
LSH_TUNE_SETTINGS = ((2, 8), (4, 4), (8, 2))


def _pow2_chain(expr: str, e: int) -> str:
    """SQL text for expr**e (e a power of two) as an explicit square
    chain — the SAME literal expression runs in Spark and DuckDB, so
    the double arithmetic is bit-identical (libm pow() is not
    correctly-rounded and may differ across engines; IEEE multiply
    is)."""
    while e > 1:
        expr = f"({expr} * {expr})"
        e //= 2
    return expr


def band_capture_ppm_sql(s_ppm_col: str, r: int, b: int) -> str:
    """SQL text for the S-curve capture probability
    1 - (1 - s^r)^b in integer ppm, from an integer-ppm similarity
    column: division by the 1e6 literal and the square chains are all
    deterministic IEEE double ops on exact integer inputs.  Shared by
    the engine and the DuckDB oracle (built from ONE function — no
    drift)."""
    # explicit DOUBLE casts everywhere: Spark parses a bare 1.0 / 1e6
    # literal as DECIMAL inside F.expr and would run the whole chain
    # in decimal arithmetic
    one = "CAST(1 AS DOUBLE)"
    s = f"(CAST({s_ppm_col} AS DOUBLE) / CAST(1000000 AS DOUBLE))"
    miss = _pow2_chain(f"({one} - {_pow2_chain(s, r)})", b)
    return f"CAST(round(({one} - {miss}) * CAST(1000000 AS DOUBLE)) AS BIGINT)"


def lsh_band_tuning(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = SHINGLE,
    settings: tuple = LSH_TUNE_SETTINGS,
) -> DataFrame:
    """LSH banding-parameter sweep over the corpus's OWN candidate
    pairs — one row per (r, b) setting with r*b = the signature
    budget: (r, b, s50_ppm, n_pairs, caught_micro, expected_caught,
    caught_ratio_ppm).  The ops table behind choosing the dedup
    stack's banding: steeper settings (high r) push the S-curve
    threshold s50 = (1/b)^(1/r) right and drop borderline pairs,
    flat settings catch noise — this measures both against the
    MEASURED pair-similarity distribution instead of folklore.

    Exactness: pair similarity is the exact integer-ppm n-gram
    Jaccard ((1e6 * inter) DIV union — ngram_jaccard's machinery with
    the float rounding deferred); each pair's capture probability
    1-(1-s^r)^b is evaluated by an explicit square chain on exact
    integer inputs (band_capture_ppm_sql) and fixed-pointed BEFORE
    the sum, so both engines agree bit-for-bit.  s50 is a Python-side
    constant interpolated into the output.

    Scale shape: identical to the verification stage it audits — only
    candidate-pair docs are shingled, one pair-keyed intersection
    join, then a settings-count union of map-side-combinable
    aggregates over the pair-scored frame (checkpointed once)."""
    pairs = pairs.localCheckpoint()
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        docs.join(cand_docs, "doc_id", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("text") - (n - 1), F.lit(1)))
            ).alias("i"),
            "text",
        )
        .select("doc_id", F.expr(f"substr(text, i, {n})").alias("s"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    scored = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .select(
            F.expr("(1000000 * n_inter) DIV (na + nb - n_inter)").alias("s_ppm")
        )
        .localCheckpoint()
    )
    parts = []
    for r, b in settings:
        s50 = round(1_000_000 * (1.0 / b) ** (1.0 / r))
        parts.append(
            scored.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.coalesce(
                    F.sum(F.expr(band_capture_ppm_sql("s_ppm", r, b))), F.lit(0)
                )
                .cast("bigint")
                .alias("caught_micro"),
            ).select(
                F.lit(r).cast("bigint").alias("r"),
                F.lit(b).cast("bigint").alias("b"),
                F.lit(s50).cast("bigint").alias("s50_ppm"),
                "n_pairs",
                "caught_micro",
                F.expr("caught_micro DIV 1000000").alias("expected_caught"),
                F.expr(
                    "CASE WHEN n_pairs > 0 THEN caught_micro DIV n_pairs END"
                ).alias("caught_ratio_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sft_pack_masks(
    pairs: DataFrame,
    budget: int = PACK_BUDGET,
    n_groups: int = PACK_GROUPS,
) -> DataFrame:
    """Loss-masked SFT sequence packing (the example-packing step of
    instruction tuning: multiple (instruction, response) examples are
    concatenated into one training sequence, prompt tokens are
    loss-MASKED and only response tokens train).  Input rows carry
    (constraint_id, corr_rev, instruction, response); whitespace token
    counts stand in for the tokenizer.  Examples are packed in
    (constraint_id, corr_rev, instruction, response) order within
    corr_rev%``n_groups`` pack groups, an example lands in the
    sequence its STARTING token falls in (never split; bounded
    overflow — ``sequence_pack``'s cut rule), and per sequence the
    emitted layout is (pack_group, seq_id, n_examples, n_tokens,
    n_masked, n_trained, trained_ppm, mask_hash) where mask_hash
    pins the exact per-example (offset, n_instr, n_resp) mask
    layout engine-independently.

    Scale shape: one group-keyed window cumsum + one (group, seq)
    aggregate — identical to ``sequence_pack``; on a real corpus the
    pack group is the input partition id, so packing co-partitions
    with ingest and needs NO shuffle at all (corr_rev % n_groups here
    keeps the grouping reproducible in the SQL oracle)."""
    from pyspark.sql import Window

    toks = lambda c: F.size(F.filter(F.split(c, " "), lambda x: x != ""))
    ex = pairs.select(
        "constraint_id",
        "corr_rev",
        "instruction",
        "response",
        toks("instruction").cast("bigint").alias("n_instr"),
        toks("response").cast("bigint").alias("n_resp"),
        (F.col("corr_rev") % n_groups).alias("pack_group"),
    ).withColumn("n_ex", F.col("n_instr") + F.col("n_resp"))
    w = (
        Window.partitionBy("pack_group")
        .orderBy("constraint_id", "corr_rev", "instruction", "response")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = ex.withColumn("cum", F.sum("n_ex").over(w)).withColumn(
        "start", F.col("cum") - F.col("n_ex")
    ).withColumn("seq_id", F.floor(F.col("start") / budget)).withColumn(
        "offset", F.col("start") - F.col("seq_id") * budget
    )
    layout = F.array_sort(
        F.collect_list(
            F.struct(
                "offset",
                "constraint_id",
                "corr_rev",
                "instruction",
                "response",
                "n_instr",
                "n_resp",
            )
        )
    )
    return seq.groupBy("pack_group", "seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_examples"),
        F.sum("n_ex").cast("bigint").alias("n_tokens"),
        F.sum("n_instr").cast("bigint").alias("n_masked"),
        F.sum("n_resp").cast("bigint").alias("n_trained"),
        F.expr(
            "(1000000 * CAST(sum(n_resp) AS BIGINT)) DIV sum(n_instr + n_resp)"
        ).alias("trained_ppm"),
        F.md5(
            F.array_join(
                F.transform(
                    layout,
                    lambda s: F.concat_ws(
                        ":",
                        s["offset"].cast("string"),
                        s["n_instr"].cast("string"),
                        s["n_resp"].cast("string"),
                    ),
                ),
                ";",
            )
        ).alias("mask_hash"),
    )

# UL2 mixture-of-denoisers settings (Tay et al. 2022, "UL2: Unifying
# Language Learning Paradigms"): hash-assigned paradigm per document
# (R 50% / S 25% / X 25%), per-paradigm corruption rate (integer pct)
# and mean span length
UL2_RATE_PCT = {"R": 15, "X": 50}
UL2_MEAN_SPAN = {"R": 3, "X": 32}


def ul2_plan(docs: DataFrame) -> DataFrame:
    """UL2 mixture-of-denoisers task assignment (the pre-tokenization
    plan of a UL2/PaLM-2-style pretraining mix): each document is
    hash-assigned a denoiser paradigm — R (regular span corruption,
    15% noise, mean span 3), S (sequential prefix-LM: a hash-picked
    split point, the suffix is the target) or X (extreme corruption,
    50% noise, mean span 32) — with the per-doc corruption budget in
    integer arithmetic: R/X corrupt (n_tokens * rate) DIV 100 tokens
    in greatest(1, n_corrupt DIV mean_span) spans (0 spans when the
    budget is 0); S corrupts the n_tokens - prefix_len suffix in one
    span.  Output (doc_id, denoiser, task_token, n_tokens,
    prefix_len, n_corrupt, n_spans); hash-in-place-of-RNG (the repo
    convention), so the plan is reproducible across
    engines/runs/partitionings and the DuckDB transcription is exact.

    Scale shape: map-only — paradigm and split come from per-row md5
    arithmetic; no shuffle at all."""
    h = (
        "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), '{tag}')), 1, 13),"
        " 16, 10) AS BIGINT)"
    )
    d = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        .cast("bigint")
        .alias("n_tokens"),
        (F.expr(h.format(tag=":ul2d")) % 4).alias("_b"),
        F.expr(h.format(tag=":ul2s")).alias("_hs"),
    ).withColumn(
        "denoiser",
        F.when(F.col("_b") <= 1, F.lit("R"))
        .when(F.col("_b") == 2, F.lit("S"))
        .otherwise(F.lit("X")),
    )
    rate = (
        F.when(F.col("denoiser") == "R", F.lit(UL2_RATE_PCT["R"]))
        .when(F.col("denoiser") == "X", F.lit(UL2_RATE_PCT["X"]))
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    mean_span = (
        F.when(F.col("denoiser") == "R", F.lit(UL2_MEAN_SPAN["R"]))
        .when(F.col("denoiser") == "X", F.lit(UL2_MEAN_SPAN["X"]))
        .otherwise(F.lit(1))
        .cast("bigint")
    )
    d = (
        d.withColumn(
            "prefix_len",
            F.when(
                (F.col("denoiser") == "S") & (F.col("n_tokens") >= 2),
                F.lit(1) + F.col("_hs") % (F.col("n_tokens") - 1),
            )
            .when(F.col("denoiser") == "S", F.col("n_tokens"))
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        .withColumn("_rate", rate)
        .withColumn("_span", mean_span)
        .withColumn(
            "n_corrupt",
            F.when(
                F.col("denoiser") == "S",
                F.col("n_tokens") - F.col("prefix_len"),
            )
            .otherwise(F.expr("(n_tokens * _rate) DIV 100"))
            .cast("bigint"),
        )
        .withColumn(
            "n_spans",
            F.when(F.col("n_corrupt") <= 0, F.lit(0))
            .when(F.col("denoiser") == "S", F.lit(1))
            .otherwise(F.expr("greatest(1, n_corrupt DIV _span)"))
            .cast("bigint"),
        )
    )
    return d.select(
        "doc_id",
        "denoiser",
        F.concat(F.lit("["), "denoiser", F.lit("]")).alias("task_token"),
        "n_tokens",
        "prefix_len",
        "n_corrupt",
        "n_spans",
    )


# Feistel epoch-permutation settings: 3 rounds of a balanced Feistel
# network over 2*FEISTEL_HALF_BITS-bit ids — a bijection for ANY round
# function, so every epoch is a full deterministic reshuffle with no
# shuffle-service randomness to reproduce; at 10^12 docs raise
# half_bits to 21 (the domain just needs to cover max doc_id)
FEISTEL_ROUNDS = 3
FEISTEL_HALF_BITS = 16
FEISTEL_EPOCHS = 2


def feistel_sql(
    x: str,
    epoch: str,
    half_bits: int = FEISTEL_HALF_BITS,
    rounds: int = FEISTEL_ROUNDS,
    dialect: str = "spark",
) -> str:
    """SQL text of the balanced Feistel permutation of ``x`` keyed by
    ``epoch`` — ONE generator emits both dialects (the
    band_capture_ppm_sql convention: shared text, zero drift), they
    differ only in shift/xor spelling and the 13-hex md5 decode."""
    mask = (1 << half_bits) - 1
    if dialect == "spark":
        shr = lambda e: f"shiftright({e}, {half_bits})"
        shl = lambda e: f"shiftleft({e}, {half_bits})"
        xor = lambda a, b: f"(({a}) ^ ({b}))"
        hx = (
            lambda s: "CAST(conv(substr(md5("
            + s
            + "), 1, 13), 16, 10) AS BIGINT)"
        )
        cat = lambda *ps: "concat(" + ", ".join(ps) + ")"
        s_of = lambda e: f"CAST({e} AS STRING)"
    else:
        shr = lambda e: f"(({e}) >> {half_bits})"
        shl = lambda e: f"(({e}) << {half_bits})"
        xor = lambda a, b: f"xor(({a}), ({b}))"
        hx = lambda s: "(" + hexval_sql(s) + ")"
        cat = lambda *ps: " || ".join(ps)
        s_of = lambda e: f"CAST({e} AS VARCHAR)"
    left = shr(f"({x})")
    right = f"(({x}) & {mask})"
    for r in range(rounds):
        f_r = (
            hx(cat(s_of(epoch), f"':{r}:'", s_of(right))) + f" & {mask}"
        )
        left, right = right, xor(left, f"({f_r})")
    return f"({shl(f'({left})')} | ({right}))"


def feistel_order(docs: DataFrame, n_epochs: int = FEISTEL_EPOCHS) -> DataFrame:
    """Deterministic per-epoch training-data permutation (the
    reproducible global reshuffle a multi-epoch run needs: same
    ordering on every rerun/resume, different ordering every epoch,
    no RNG state to checkpoint): perm_key = a 3-round balanced
    Feistel network over the doc_id domain, keyed by the epoch — a
    BIJECTION for any round function (Luby & Rackoff 1988), so
    ordering shards by (epoch, perm_key) replays each epoch as a full
    permutation.  Output: (doc_id, epoch, perm_key).

    Scale shape: map-only — per-row md5/bit arithmetic, no shuffle at
    all (the sort the training job does by perm_key is the
    shard_manifest two-phase pattern's job, not this plan's)."""
    epochs = F.explode(
        F.array(*[F.lit(i) for i in range(n_epochs)])
    ).alias("epoch")
    d = docs.select("doc_id", epochs)
    return d.select(
        "doc_id",
        "epoch",
        F.expr(feistel_sql("doc_id", "epoch", dialect="spark"))
        .cast("bigint")
        .alias("perm_key"),
    )


# competence-based curriculum (Platanios et al. NAACL 2019): per-mille
# competence at each training quarter, floor(1000 * sqrt(t/4)) —
# precomputed constants, no libm at runtime
CURRICULUM_COMPETENCE_PM = (500, 707, 866, 1000)


def curriculum_stages(scored: DataFrame) -> DataFrame:
    """Competence-based curriculum staging over ``scored(doc_id,
    q_micro)``: difficulty_pm = per-mille share of docs with STRICTLY
    higher quality (0 = easiest), stage = the first training quarter
    whose competence covers the doc (difficulty_pm <
    CURRICULUM_COMPETENCE_PM[t]) — the data-availability schedule a
    curriculum trainer samples from.  Output: (doc_id, q_micro,
    difficulty_pm, stage).

    Scale shape: q_micro lives in [0, 1e6], so the VALUE histogram is
    bounded at 1e6+1 rows regardless of corpus size (the
    robust_source_stats count-bucket decomposition); one value-keyed
    aggregate, one bounded window over histogram rows, one value-keyed
    join back onto the stream.  Integer-only."""
    hist = scored.groupBy("q_micro").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v")
    )
    tot = hist.agg(F.sum("n_v").cast("bigint").alias("n"))
    w = (
        Window.orderBy(F.desc("q_micro"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn(
        "n_higher", F.sum("n_v").over(w) - F.col("n_v")
    ).crossJoin(F.broadcast(tot))
    c1, c2, c3 = CURRICULUM_COMPETENCE_PM[:3]
    lev = cum.select(
        "q_micro",
        F.expr("(1000 * n_higher) DIV n").alias("difficulty_pm"),
    ).withColumn(
        "stage",
        F.when(F.col("difficulty_pm") < c1, F.lit(1))
        .when(F.col("difficulty_pm") < c2, F.lit(2))
        .when(F.col("difficulty_pm") < c3, F.lit(3))
        .otherwise(F.lit(4)),
    )
    return scored.join(lev, "q_micro").select(
        "doc_id", "q_micro", "difficulty_pm", "stage"
    )


def icp_pack(docs: DataFrame, width: int = CHUNK_TOKENS, budget: int = PACK_BUDGET) -> DataFrame:
    """In-context-pretraining packing comparison (Shi et al. 2023,
    "In-Context Pretraining: Language Modeling Beyond Document
    Boundaries"): the same chunk stream packed two ways — the baseline
    (doc_id, chunk_id) ingest order vs the TOPIC-COHERENT order
    (topic, doc_id, chunk_id), where related documents become
    neighbors inside a context window — and per (ordering, pack_group,
    seq_id) the coherence the model will actually see:
    adjacent-chunk pairs that share a topic, in integer ppm.  The
    measured coherence lift is the go/no-go for paying the reorder
    shuffle at 100 TB.  Output: (ordering, pack_group, seq_id,
    n_chunks, n_tokens, n_adj_same_topic, coherence_ppm).

    Scale shape: topic labels are map-only (seed keywords); each
    ordering is ONE pack-group window (the sequence_pack shape — the
    group is the parallelism knob) plus a lag comparison inside the
    same window; aggregates map-side combine."""
    from pyspark.sql import Window

    labeled = topic_assignment(docs).select("doc_id", "topic")
    ch = (
        _chunked(docs, width)
        .join(labeled, "doc_id")
        .select(
            "doc_id",
            "chunk_id",
            "n_toks",
            "topic",
            (F.col("doc_id") % PACK_GROUPS).alias("pack_group"),
        )
    )
    outs = []
    for ordering, keys in (
        ("ingest", ["doc_id", "chunk_id"]),
        ("topic_coherent", ["topic", "doc_id", "chunk_id"]),
    ):
        w = (
            Window.partitionBy("pack_group")
            .orderBy(*keys)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wl = Window.partitionBy("pack_group").orderBy(*keys)
        seq = (
            ch.withColumn("cum", F.sum("n_toks").over(w))
            .withColumn(
                "seq_id", F.floor((F.col("cum") - F.col("n_toks")) / budget)
            )
            .withColumn("prev_topic", F.lag("topic").over(wl))
            .withColumn(
                "prev_seq", F.lag(F.floor((F.col("cum") - F.col("n_toks")) / budget)).over(wl)
            )
        )
        outs.append(
            seq.groupBy("pack_group", "seq_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
                F.sum("n_toks").cast("bigint").alias("n_tokens"),
                F.sum(
                    F.when(
                        (F.col("prev_seq") == F.col("seq_id"))
                        & (F.col("prev_topic") == F.col("topic")),
                        1,
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("n_adj_same_topic"),
            )
            .select(
                F.lit(ordering).alias("ordering"),
                "pack_group",
                "seq_id",
                "n_chunks",
                "n_tokens",
                "n_adj_same_topic",
                F.expr(
                    "CASE WHEN n_chunks > 1 THEN (1000000 * n_adj_same_topic)"
                    " DIV (n_chunks - 1) ELSE 0 END"
                ).alias("coherence_ppm"),
            )
        )
    return outs[0].unionByName(outs[1])


# named token-mixing policies for the ablation ledger: uniform,
# proportional-to-size, and sqrt-damped (the alpha=0.5 temperature
# point every multilingual/multi-source recipe publishes)
MIX_POLICIES = ("uniform", "proportional", "sqrt_damped")
MIX_BUDGET_TOKENS = 100_000


def mix_policy_ledger(
    docs: DataFrame, budget_tokens: int = MIX_BUDGET_TOKENS
) -> DataFrame:
    """Source-mixing ablation ledger: the per-source token allocation
    a fixed training budget gets under the three standard policies —
    uniform, proportional-to-size, sqrt-damped (temperature 0.5) —
    side by side, with the repeat factor (epochs over that source's
    data) that reveals which policy over-repeats small sources.
    sqrt uses the EXACT integer isqrt (floor(sqrt(n)) computed via the
    float sqrt then corrected by one integer compare — sqrt is
    IEEE-correctly-rounded, the correction kills the last-ulp flip),
    so every number is engine-exact.  Output: (policy, source,
    n_tokens, alloc_tokens, repeat_pm).

    Scale shape: one source-keyed token count, then all three
    allocations are arithmetic over the source-vocabulary-sized
    frame with single-row broadcast totals."""
    isqrt = (
        "CAST(CASE WHEN f * f > n_tokens THEN f - 1 ELSE f END AS BIGINT)"
    )
    per = (
        docs.select(
            "source",
            F.size(F.filter(F.split("text", " "), lambda x: x != ""))
            .cast("bigint")
            .alias("n_t"),
        )
        .groupBy("source")
        .agg(F.sum("n_t").cast("bigint").alias("n_tokens"))
        .withColumn("f", F.expr("CAST(floor(sqrt(n_tokens)) AS BIGINT)"))
        .withColumn("sq", F.expr(isqrt))
        .drop("f")
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_src"),
        F.sum("n_tokens").cast("bigint").alias("t_all"),
        F.sum("sq").cast("bigint").alias("sq_all"),
    )
    d = per.crossJoin(F.broadcast(tot))  # single-row totals frame
    b = int(budget_tokens)
    rows = []
    for policy, alloc in (
        ("uniform", f"{b} DIV n_src"),
        ("proportional", f"({b} * n_tokens) DIV t_all"),
        ("sqrt_damped", f"({b} * sq) DIV sq_all"),
    ):
        rows.append(
            d.select(
                F.lit(policy).alias("policy"),
                "source",
                "n_tokens",
                F.expr(alloc).cast("bigint").alias("alloc_tokens"),
            ).withColumn(
                "repeat_pm",
                F.expr(
                    "CASE WHEN n_tokens > 0 THEN"
                    " (1000 * alloc_tokens) DIV n_tokens END"
                ).cast("bigint"),
            )
        )
    res = rows[0]
    for r in rows[1:]:
        res = res.unionByName(r)
    return res


# Poisson-bootstrap settings (Chamandy et al. 2012, "Estimating
# uncertainty for massive data streams": per-record independent
# Poisson(1) weights make the bootstrap ONE streaming pass): number of
# resamples, and the Poisson(1) inverse-CDF thresholds on the 52-bit
# hash grid — precomputed exact integers (floor(CDF(k) * 2^52) for
# k = 0..4, weights above cap at 5), so both engines draw the
# IDENTICAL weight from the identical hash
BOOTSTRAP_B = 8
POISSON1_T52 = (
    1656781714176974,
    3313563428353948,
    4141954285442435,
    4418084571138597,
    4487117142562638,
)


def poisson_bootstrap(scored: DataFrame, n_resamples: int = BOOTSTRAP_B) -> DataFrame:
    """Deterministic Poisson bootstrap of the corpus mean quality —
    the uncertainty bar a curation dashboard needs on every metric at
    10^12 docs, computed in ONE pass: per (doc, resample) a
    hash-drawn Poisson(1) weight (inverse CDF on the 52-bit md5 grid,
    thresholds precomputed as exact integers), then per resample the
    weighted mean.  Output: (b, n_docs, n_eff, mean_q_micro) — the
    spread across the B rows IS the sampling distribution of the
    mean.  Hash-in-place-of-RNG, so resamples are reproducible across
    engines/runs/partitionings.

    Scale shape: map-only weight draw + ONE aggregate with B * 3
    partial cells per task — no shuffle beyond the B-row result;
    B is the cost knob."""
    h52 = (
        "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':boot:',"
        " CAST(b AS STRING))), 1, 13), 16, 10) AS BIGINT)"
    )
    w_case = "CASE "
    for k, t in enumerate(POISSON1_T52):
        w_case += f"WHEN {h52} < {t} THEN {k} "
    w_case += f"ELSE {len(POISSON1_T52)} END"
    d = scored.select(
        "doc_id",
        "q_micro",
        F.explode(
            F.array(*[F.lit(i) for i in range(n_resamples)])
        ).alias("b"),
    ).withColumn("w", F.expr(w_case).cast("bigint"))
    return d.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("n_eff"),
        F.expr(
            "CASE WHEN SUM(w) > 0 THEN"
            " CAST(SUM(w * q_micro) AS BIGINT) DIV SUM(w) END"
        )
        .cast("bigint")
        .alias("mean_q_micro"),
    )


# Borda rank-aggregation signals: each is an integer column computed
# from the document text; aggregation by rank makes the ensemble
# immune to the signals' incomparable scales
BORDA_SIGNALS = ("q_micro", "n_tok", "ttr_pm")


def borda_quality_rank(docs_scored: DataFrame) -> DataFrame:
    """Borda rank-aggregation of incomparable quality signals (the
    classic voting rule; rank aggregation is how curation stacks
    combine a perplexity, a classifier score and a heuristic without
    inventing scale weights): per signal the EXACT count of
    strictly-better documents via the value-histogram running total
    (never a global sort over docs), then borda_pm = the per-mille
    average of (N-1 - n_better) / (N-1) across signals.  Input needs
    (doc_id, q_micro, n_tok, ttr_pm); output adds b_q_micro / b_n_tok
    / b_ttr_pm (the n_better counts) and borda_pm.

    Scale shape: one value histogram + one bounded window + one
    value-keyed join back PER SIGNAL (the curriculum_stages
    decomposition applied threefold); integer-only."""
    out = docs_scored
    for sig in BORDA_SIGNALS:
        hist = docs_scored.groupBy(sig).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_v")
        )
        w = (
            Window.orderBy(F.desc(sig))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        lev = hist.withColumn(
            f"b_{sig}", (F.sum("n_v").over(w) - F.col("n_v")).cast("bigint")
        ).drop("n_v")
        out = out.join(lev, sig)
    tot = docs_scored.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    k = len(BORDA_SIGNALS)
    better_sum = " + ".join(f"b_{s}" for s in BORDA_SIGNALS)
    return out.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        *[f"b_{s}" for s in BORDA_SIGNALS],
        F.expr(
            f"CASE WHEN n > 1 THEN (1000 * ({k} * (n - 1) - ({better_sum})))"
            f" DIV ({k} * (n - 1)) ELSE 1000 END"
        )
        .cast("bigint")
        .alias("borda_pm"),
    )


CV_FOLDS = 5


def cv_fold_audit(labeled: DataFrame, n_folds: int = CV_FOLDS) -> DataFrame:
    """Cross-validation fold assignment + stratification audit: folds
    come from the scalable hash-mod draw (fold = md5(doc_id) % K —
    map-only, resumable, no per-class sort at 10^12 docs), and the
    query AUDITS what that buys: per (fold, class) the exact count,
    the uniform expectation and the per-mille deviation — the number
    a training pipeline checks before trusting fold metrics.  Input:
    ``labeled(doc_id, topic)``.  Output: (fold, topic, n_docs,
    class_total, dev_pm) with dev_pm = 1000 * |K*n - total| / total.

    Scale shape: one map-side fold draw + one (fold, class) aggregate
    + a class-keyed broadcast of class totals; output is
    K x |classes| rows."""
    h = (
        "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':cv')), 1, 13),"
        " 16, 10) AS BIGINT)"
    )
    d = labeled.select(
        "topic", (F.expr(h) % n_folds).cast("int").alias("fold")
    )
    cnt = d.groupBy("fold", "topic").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = cnt.groupBy("topic").agg(
        F.sum("n_docs").cast("bigint").alias("class_total")
    )
    return cnt.join(F.broadcast(tot), "topic").select(
        "fold",
        "topic",
        "n_docs",
        "class_total",
        F.expr(
            f"CASE WHEN class_total > 0 THEN"
            f" (1000 * abs({n_folds} * n_docs - class_total))"
            f" DIV class_total END"
        )
        .cast("bigint")
        .alias("dev_pm"),
    )


def pareto_skyline(
    docs_scored: DataFrame, x: str = "q_micro", y: str = "ttr_pm"
) -> DataFrame:
    """2-D Pareto frontier (skyline) over two quality signals — the
    curation question "which documents are not strictly worse than
    some other document on BOTH axes" (Börzsönyi et al.'s skyline
    operator), used to pick the quality/diversity frontier without
    inventing a weighted blend.  A point is dominated when another
    point is >= on both signals and > on at least one; equal points
    never dominate each other, so exact ties all stay on the
    frontier.

    Scale shape: the naive skyline is an N^2 self-join; this is the
    borda/curriculum value-histogram decomposition instead — one
    x-keyed aggregate (max y per distinct x), one bounded window over
    the DISTINCT x values (value-cardinality-sized, never a global
    sort over docs), one (x, y)-keyed join back.  A point is on the
    frontier iff its y equals its x-group's max AND that max exceeds
    the running max over all strictly-greater x groups."""
    grp = docs_scored.groupBy(x).agg(F.max(y).cast("bigint").alias("_max_y"))
    w = Window.orderBy(F.desc(x)).rowsBetween(
        Window.unboundedPreceding, -1
    )
    sky = (
        grp.withColumn("_prev", F.max("_max_y").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_max_y") > F.col("_prev")))
        .select(x, F.col("_max_y").alias(y))
    )
    return docs_scored.join(sky, [x, y]).select("doc_id", x, y)


# Benford first-digit law: P(d) = log10(1 + 1/d), rounded to per-mille
# (sums to exactly 1000) — fixed constants so Spark and the oracle
# never evaluate a float log.
BENFORD_PM = (301, 176, 125, 97, 79, 67, 58, 51, 46)


def benford_audit(
    vals: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """First-significant-digit Benford audit per source group — the
    classic fabricated-/degenerate-data monitor for numeric feeds: a
    source whose first-digit distribution drifts hard from Benford's
    law (or from its own history) is flagged for inspection before it
    poisons downstream aggregates.  Values < 1 are excluded (no first
    significant digit in the integer sense).

    Output grain is (grp, digit 1..9) with exact counts, observed
    per-mille, the Benford expectation and dev_pm = obs - exp; digits
    a group never produced appear with n_vals = 0 (their absence IS
    the signal).  All integer — no float log10, no chi-square
    overflow hazard at any n (|dev_pm| <= 1000 by construction).

    Scale shape: one map-only floor/substr digit extraction + one
    (grp, digit) aggregate (output is 9 x |groups| rows) + a
    broadcast of per-group totals against the generated digit spine."""
    d = vals.filter(F.col(value_col) >= 1).select(
        F.col(group_col).alias("grp"),
        F.substring(
            F.floor(F.col(value_col)).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit"),
    )
    cnt = d.groupBy("grp", "digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vals")
    )
    tot = cnt.groupBy("grp").agg(
        F.sum("n_vals").cast("bigint").alias("n_total")
    )
    spine = tot.select(
        "grp",
        "n_total",
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("digit"),
    )
    exp_pm = F.element_at(
        F.array(*[F.lit(p) for p in BENFORD_PM]), F.col("digit")
    ).cast("bigint")
    return (
        spine.join(cnt, ["grp", "digit"], "left")
        .withColumn("n_vals", F.coalesce(F.col("n_vals"), F.lit(0)).cast("bigint"))
        .select(
            "grp",
            "digit",
            "n_vals",
            "n_total",
            F.expr("(1000 * n_vals) DIV n_total").cast("bigint").alias("obs_pm"),
            exp_pm.alias("exp_pm"),
            (
                F.expr("(1000 * n_vals) DIV n_total") - exp_pm
            ).cast("bigint").alias("dev_pm"),
        )
    )


# CUSUM policy constants: slack k = mean/4 per day, alarm threshold
# h = 2x the daily mean of cumulative excess (Page 1954 tabular CUSUM
# with k and h expressed in units of the in-control mean).
CUSUM_SLACK_DIV = 4
CUSUM_H_MULT = 2


def cusum_changepoints(events: DataFrame) -> DataFrame:
    """One-sided upper CUSUM (Page 1954) over the daily event count
    per event_type — the sequential change-point monitor a feed
    operator runs to catch a sustained rate shift (a stuck retry
    loop, a new bot, a dropped source) earlier than any fixed-window
    z-score.  Days with zero events are materialized via a date
    spine (their absence is exactly what a collapse looks like).

    The CUSUM recurrence S_t = max(0, S_{t-1} + y_t) is not a
    built-in window aggregate, but it has a closed prefix form:
    S_t = C_t - min(0, min_{j<=t} C_j) with C the plain running sum
    of y — two window functions, no recursion.  All integer
    (per-mille fixed point): y = 1000*n - mean_milli - k_milli with
    mean_milli = (1000*total) DIV n_days, k_milli = mean DIV
    CUSUM_SLACK_DIV, alarm when S > CUSUM_H_MULT * mean_milli.

    Output: (event_type, day, n_events, cusum_milli, alarm).

    Scale shape: one (type, day) count aggregate, a broadcast
    date-spine cross (types x days, tiny), one per-type mean
    broadcast join, and two cumulative windows partitioned by
    event_type — each type's series is one partition's worth of
    days, never corpus-sized."""
    daily = events.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = (
        events.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("_d"),
        )
        .select("event_type", F.date_format("_d", "yyyy-MM-dd").alias("day"))
    )
    filled = (
        spine.join(daily, ["event_type", "day"], "left")
        .withColumn(
            "n_events", F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint")
        )
    )
    stats = filled.groupBy("event_type").agg(
        F.expr("(1000 * SUM(n_events)) DIV COUNT(*)")
        .cast("bigint")
        .alias("mean_milli")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        filled.join(F.broadcast(stats), "event_type")
        .withColumn(
            "_y",
            (
                1000 * F.col("n_events")
                - F.col("mean_milli")
                - F.expr(f"mean_milli DIV {CUSUM_SLACK_DIV}")
            ).cast("bigint"),
        )
        .withColumn("_c", F.sum("_y").over(w_cum).cast("bigint"))
        .withColumn(
            "cusum_milli",
            (
                F.col("_c")
                - F.least(F.lit(0).cast("bigint"), F.min("_c").over(w_cum))
            ).cast("bigint"),
        )
    )
    return out.select(
        "event_type",
        "day",
        "n_events",
        "cusum_milli",
        (F.col("cusum_milli") > CUSUM_H_MULT * F.col("mean_milli")).alias(
            "alarm"
        ),
    )


SNM_WINDOW = 4
SNM_KEY_LEN = 12
SNM_BLOCK_LEN = 2


def sorted_neighborhood(
    docs: DataFrame,
    window: int = SNM_WINDOW,
    key_len: int = SNM_KEY_LEN,
    block_len: int = SNM_BLOCK_LEN,
) -> DataFrame:
    """Multi-pass sorted-neighborhood blocking (Hernández & Stolfo
    1995) over the documents table: per pass, records are keyed by a
    normalized text slice, sorted within their key-prefix block, and
    every record is paired with its ``window`` successors in sort
    order.  Two passes with independent key slices (chars 1-12 and
    13-24 of the alphanumeric-normalized text) — the multi-key trick
    that recovers matches a single sort order separates, and the
    classical answer to block-boundary loss (rather than windowing
    across partition boundaries, which does not distribute).
    Output: (doc_a, doc_b, n_passes) candidate pairs.

    Scale shape: NO global sort — sorting happens inside key-prefix
    blocks (a block-partitioned window), and the neighbor join is
    linearized by exploding each record into ``window`` probe ranks
    and equi-joining on (block, rank): candidate volume is exactly
    window x N per pass, never block-size^2.  Block granularity
    (``block_len`` prefix chars) is the skew dial: longer prefixes
    bound the per-partition sort at the cost of more boundary loss
    for the other pass to recover."""
    norm = F.expr("regexp_replace(lower(text), '[^a-z0-9]', '')")
    out = None
    for p in range(2):
        key = F.substring(norm, 1 + p * key_len, key_len)
        recs = docs.select(
            "doc_id", key.alias("k")
        ).filter(F.length("k") > 0)
        ranked = recs.withColumn(
            "blk", F.substring("k", 1, block_len)
        ).withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy(F.substring("k", 1, block_len)).orderBy(
                    "k", "doc_id"
                )
            ),
        )
        probes = ranked.select(
            "blk",
            F.col("doc_id").alias("id_a"),
            "r",
            F.explode(F.sequence(F.lit(1), F.lit(window))).alias("j"),
        ).select(
            "blk", "id_a", (F.col("r") + F.col("j")).alias("r")
        )
        pairs = probes.join(
            ranked.select("blk", "r", F.col("doc_id").alias("id_b")),
            ["blk", "r"],
        ).select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_passes")
    )


def analyze_column_stats(
    table: DataFrame,
    int_cols: tuple = (),
    cents_cols: tuple = (),
    str_cols: tuple = (),
    ts_cols: tuple = (),
) -> DataFrame:
    """ANALYZE-style one-pass column statistics catalog — the exact
    per-column profile a cost-based optimizer (or a data-quality
    gate) reads before planning: row count, null count, EXACT
    distinct-value count, numeric min/max, lexicographic min/max of
    the string form and mean string length in per-mille.  Numeric
    normalization is deterministic on both engines: ints as-is,
    doubles as floor(x*100) fixed-point cents, timestamps as floored
    epoch seconds.

    Scale shape: one unpivot (rows x n_columns, the same expand
    factor Spark's own multi-column count-distinct plans) feeding a
    (column, value)-grain partial-aggregated count — shuffle volume
    is bounded by the SUM OF PER-COLUMN NDVs, not row count — then a
    column-grain rollup (n_columns output rows).  Exact NDV by
    design; swap the first aggregate for HLL sketches when approximate
    is acceptable."""
    parts = []
    for c in int_cols:
        parts.append(("'%s'" % c, f"CAST({c} AS BIGINT)"))
    for c in cents_cols:
        parts.append(("'%s'" % c, f"CAST(FLOOR({c} * 100) AS BIGINT)"))
    for c in ts_cols:
        parts.append(
            ("'%s'" % c, f"CAST(FLOOR(unix_timestamp({c})) AS BIGINT)")
        )
    stack_num = ", ".join(f"{n}, {v}" for n, v in parts)
    n_numeric = len(parts)
    unp_num = table.select(
        F.expr(
            f"stack({n_numeric}, {stack_num}) AS (column_name, val_num)"
        )
    ).select(
        "column_name",
        "val_num",
        F.col("val_num").cast("string").alias("val_str"),
    )
    stack_str = ", ".join(f"'{c}', {c}" for c in str_cols)
    unp_str = table.select(
        F.expr(
            f"stack({len(str_cols)}, {stack_str}) AS (column_name, val_str)"
        )
    ).select(
        "column_name", F.lit(None).cast("bigint").alias("val_num"), "val_str"
    )
    g = (
        unp_num.unionByName(unp_str)
        .groupBy("column_name", "val_num", "val_str")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return g.groupBy("column_name").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("val_str").isNull(), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_nulls"),
        F.count(F.when(F.col("val_str").isNotNull(), 1))
        .cast("bigint")
        .alias("ndv"),
        F.min("val_num").alias("min_num"),
        F.max("val_num").alias("max_num"),
        F.min("val_str").alias("min_str"),
        F.max("val_str").alias("max_str"),
        F.expr(
            "CASE WHEN SUM(CASE WHEN val_str IS NOT NULL THEN cnt ELSE 0 END)"
            " > 0 THEN (1000 * SUM(CASE WHEN val_str IS NOT NULL THEN"
            " cnt * length(val_str) ELSE 0 END))"
            " DIV SUM(CASE WHEN val_str IS NOT NULL THEN cnt ELSE 0 END)"
            " END"
        )
        .cast("bigint")
        .alias("avg_len_milli"),
    )


def k_anonymity_audit(
    customer: DataFrame, orders: DataFrame, k: int = 5
) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    et al. 2007) of the released order feed: every order row carries
    its customer's quasi-identifiers (nation, market segment,
    account-balance band of 1000) and the sensitive attribute is the
    order priority.  A QI group smaller than k re-identifies; a group
    with l = 1 distinct sensitive value discloses even when large.

    Output grain is one summary row per nation: group count, the
    smallest group size (min_k), rows sitting in groups below k and
    their per-mille share (risk_pm), the smallest per-group sensitive
    diversity (min_l) and how many groups have l = 1.  All integer.

    Scale shape: one custkey equi-join (dimension side broadcastable)
    then a (QI, sensitive) partial-aggregated count — shuffle volume
    bounded by |QI combos| x |sensitive values|, not row count — then
    two bounded rollups (QI grain, nation grain)."""
    released = orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"], "inner"
    ).select(
        F.col("c_nationkey").cast("bigint").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        F.col("o_orderpriority").alias("sensitive"),
    )
    qs = released.groupBy("nation", "segment", "bal_band", "sensitive").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    grp = qs.groupBy("nation", "segment", "bal_band").agg(
        F.sum("cnt").cast("bigint").alias("k_size"),
        F.count(F.lit(1)).cast("bigint").alias("l_div"),
    )
    return grp.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("k_size").cast("bigint").alias("min_k"),
        F.sum("k_size").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("k_size") < k, F.col("k_size")).otherwise(0))
        .cast("bigint")
        .alias("rows_below_k"),
        F.expr(
            f"(1000 * SUM(CASE WHEN k_size < {int(k)} THEN k_size ELSE 0 END))"
            " DIV SUM(k_size)"
        )
        .cast("bigint")
        .alias("risk_pm"),
        F.min("l_div").cast("bigint").alias("min_l"),
        F.sum(F.when(F.col("l_div") < 2, 1).otherwise(0))
        .cast("bigint")
        .alias("groups_l1"),
    )


def roc_auc(
    docs: DataFrame,
    group_col: str = "lang",
    score_expr: str = (
        "(1000 * length(regexp_replace(lower(text), '[^a-z]', '')))"
        " DIV greatest(n_chars, 1)"
    ),
    label_expr: str = (
        "CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 2 = 0"
    ),
) -> DataFrame:
    """Exact ROC AUC per group via the tie-corrected Mann-Whitney
    rank-sum (Hanley & McNeil 1982): AUC = (R_pos - P(P+1)/2) / (P*N)
    with tied scores taking their average rank — identical to the
    pair-counting definition P(s_pos > s_neg) + 0.5*P(s_pos = s_neg).
    The default scores documents by alphabetic per-mille and labels
    them by source-id parity (a deterministic classifier-eval
    fixture); both are caller-replaceable column expressions.

    Integer fixed point throughout: rank2 = twice the average rank
    (always integral), auc_micro = floor(1e6 * AUC).  NULL when a
    group lacks a class.

    Scale shape: one (group, score) partial-aggregated count —
    shuffle bounded by distinct scores per group, not rows — then one
    window over that distinct-score frame and a group-grain rollup.
    Never a per-row global rank, never a pair join."""
    s = docs.selectExpr(
        f"{group_col} AS grp",
        f"CAST({score_expr} AS BIGINT) AS score",
        f"CASE WHEN {label_expr} THEN 1 ELSE 0 END AS label",
    )
    c = s.groupBy("grp", "score").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("label").cast("bigint").alias("pos"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = c.withColumn(
        "rank2",
        2 * F.coalesce(F.sum("cnt").over(w), F.lit(0)) + F.col("cnt") + 1,
    )
    return (
        ranked.groupBy("grp")
        .agg(
            F.sum("pos").cast("bigint").alias("n_pos"),
            (F.sum("cnt") - F.sum("pos")).cast("bigint").alias("n_neg"),
            F.sum(F.col("pos") * F.col("rank2")).cast("bigint").alias("s2"),
        )
        .select(
            "grp",
            "n_pos",
            "n_neg",
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.expr("(500000 * (s2 - n_pos * (n_pos + 1)))"
                       " DIV (n_pos * n_neg)"),
            )
            .cast("bigint")
            .alias("auc_micro"),
        )
    )


EQUIDEPTH_BUCKETS = 8


def equidepth_hist(
    table: DataFrame,
    int_cols: tuple = (),
    cents_cols: tuple = (),
    ts_cols: tuple = (),
    n_buckets: int = EQUIDEPTH_BUCKETS,
) -> DataFrame:
    """Exact equi-depth histogram catalog — the CBO companion to
    `analyze_column_stats`: per numeric column, ``n_buckets`` buckets
    of (as near as ties allow) equal row mass, each with its exact
    value bounds, row count and distinct-value count.  A distinct
    value lands in bucket ceil(B * cum_rows_through_it / total) — the
    standard weighted-NTILE closure, so a value whose duplicates span
    a boundary is never split.  Numeric normalization matches
    analyze_column_stats (ints as-is, doubles as floor-cents,
    timestamps as floored epoch seconds); NULLs are excluded (they
    carry no ordering information — n_nulls lives in the stats
    catalog).

    Scale shape: one unpivot feeding a (column, value)
    partial-aggregated count — shuffle bounded by the sum of
    per-column NDVs, not row count — then one cumulative window over
    each column's distinct-value frame and a (column, bucket) rollup
    (B x n_columns output rows)."""
    parts = []
    for c in int_cols:
        parts.append((f"'{c}'", f"CAST({c} AS BIGINT)"))
    for c in cents_cols:
        parts.append((f"'{c}'", f"CAST(FLOOR({c} * 100) AS BIGINT)"))
    for c in ts_cols:
        parts.append(
            (f"'{c}'", f"CAST(FLOOR(unix_timestamp({c})) AS BIGINT)")
        )
    stack = ", ".join(f"{n}, {v}" for n, v in parts)
    unp = table.select(
        F.expr(f"stack({len(parts)}, {stack}) AS (column_name, val)")
    ).filter(F.col("val").isNotNull())
    g = unp.groupBy("column_name", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = (
        Window.partitionBy("column_name")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = g.groupBy("column_name").agg(
        F.sum("cnt").cast("bigint").alias("total")
    )
    cum = g.withColumn("cum", F.sum("cnt").over(w)).join(tot, "column_name")
    b = int(n_buckets)
    assigned = cum.withColumn(
        "bucket",
        F.expr(f"(({b} * cum) + total - 1) DIV total").cast("bigint"),
    )
    return assigned.groupBy("column_name", "bucket").agg(
        F.min("val").cast("bigint").alias("lo"),
        F.max("val").cast("bigint").alias("hi"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("ndv"),
    )


# Z-order layout audit constants: 16-bit per-dimension quantization,
# 64 files (top-6-bit bucketing), and the planted second-quartile
# 2-D range predicate the audit prices under each layout.
ZORDER_BITS = 16
ZORDER_FILE_BITS = 6
ZORDER_BOX = (16384, 32767, 16384, 32767)  # xq0, xq1, yq0, yq1


def zorder_interleave_terms(xcol: str, ycol: str, bits: int = ZORDER_BITS):
    """The Morton-code interleave as a sum of unrolled bit terms —
    generated once and shared verbatim by the Spark expression and the
    DuckDB oracle so the bit layout cannot drift.  x occupies the odd
    (higher) bit of each pair, y the even."""
    spark_terms = " + ".join(
        f"(shiftleft(shiftright({xcol}, {i}) & 1, {2 * i + 1})"
        f" + shiftleft(shiftright({ycol}, {i}) & 1, {2 * i}))"
        for i in range(bits)
    )
    duck_terms = " + ".join(
        f"((({xcol} >> {i}) & 1) * {1 << (2 * i + 1)}"
        f" + ((({ycol} >> {i}) & 1) * {1 << (2 * i)}))"
        for i in range(bits)
    )
    return spark_terms, duck_terms


def zorder_layout(orders: DataFrame) -> DataFrame:
    """Z-order (Morton-curve) clustering-layout audit — the data-
    skipping design decision behind Delta/Iceberg OPTIMIZE ZORDER BY:
    quantize two query dimensions (customer key, order day) to 16
    bits each, interleave into a Morton code, bucket rows into 64
    'files' by the code's top 6 bits, and price a planted 2-D range
    predicate against each file's min-max zone map.  The baseline is
    the same file count clustered on the FIRST dimension only (the
    classic sort-key layout that zone-maps perfectly on x and not at
    all on y).

    Output: one row per layout — files read out of total (a file is
    read iff its (xq, yq) bounding box intersects the box), rows
    scanned, rows actually matching, and the read amplification in
    per-mille.  All integer and exact: this measures the layout, it
    does not sample it.

    Scale shape: one single-row min/max aggregate broadcast back (the
    only crossJoin, 1 row), one map-only quantize+interleave pass, and
    a 64-group aggregate per layout — no shuffle wider than the file
    count.  At cluster scale the same audit runs per partition of any
    table; nothing here is fixture-bound."""
    t = orders.select(
        F.col("o_custkey").cast("bigint").alias("x"),
        F.expr("CAST(FLOOR(unix_timestamp(o_orderdate) / 86400) AS BIGINT)")
        .alias("y"),
    )
    rng = t.agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )
    b = ZORDER_BITS
    top = (1 << b) - 1
    q = t.crossJoin(F.broadcast(rng)).select(
        F.expr(
            f"CAST((({top} * (x - min_x)) DIV greatest(1, max_x - min_x))"
            " AS BIGINT)"
        ).alias("xq"),
        F.expr(
            f"CAST((({top} * (y - min_y)) DIV greatest(1, max_y - min_y))"
            " AS BIGINT)"
        ).alias("yq"),
    )
    spark_z, _ = zorder_interleave_terms("xq", "yq", b)
    fb = ZORDER_FILE_BITS
    x0, x1, y0, y1 = ZORDER_BOX
    coded = q.select(
        "xq",
        "yq",
        F.expr(f"shiftright(CAST({spark_z} AS BIGINT), {2 * b - fb})")
        .cast("bigint")
        .alias("zfile"),
        F.expr(f"shiftright(xq, {b - fb})").cast("bigint").alias("xfile"),
        F.expr(
            f"CASE WHEN xq BETWEEN {x0} AND {x1}"
            f" AND yq BETWEEN {y0} AND {y1} THEN 1 ELSE 0 END"
        )
        .cast("bigint")
        .alias("hit"),
    )

    def layout_stats(file_col: str, name: str) -> DataFrame:
        files = coded.groupBy(F.col(file_col).alias("f")).agg(
            F.min("xq").alias("bx0"),
            F.max("xq").alias("bx1"),
            F.min("yq").alias("by0"),
            F.max("yq").alias("by1"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("hit").cast("bigint").alias("n_hit"),
        )
        read = (
            (F.col("bx0") <= x1)
            & (F.col("bx1") >= x0)
            & (F.col("by0") <= y1)
            & (F.col("by1") >= y0)
        ).cast("bigint")
        return files.agg(
            F.lit(name).alias("layout"),
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(read).cast("bigint").alias("files_read"),
            F.sum(read * F.col("n_rows")).cast("bigint").alias("rows_read"),
            F.sum("n_hit").cast("bigint").alias("n_match"),
            F.expr(
                "CAST((1000 * SUM(CASE WHEN bx0 <= {x1} AND bx1 >= {x0}"
                " AND by0 <= {y1} AND by1 >= {y0} THEN n_rows ELSE 0 END))"
                " DIV greatest(1, SUM(n_hit)) AS BIGINT)".format(
                    x0=x0, x1=x1, y0=y0, y1=y1
                )
            ).alias("amp_pm"),
        )

    return layout_stats("zfile", "zorder").unionByName(
        layout_stats("xfile", "linear")
    )


def gini_index(
    docs: DataFrame, group_col: str = "source", value_col: str = "n_chars"
) -> DataFrame:
    """Exact Gini inequality index per group — the corpus-balance
    diagnostic for document-length (or any nonnegative mass)
    distributions: 0 = perfectly even, ->1 = one document carries all
    the mass.  Computed tie-safely from the sorted cumulative form
    G = sum_i (2i - n - 1) x_(i) / (n * sum x): a block of c equal
    values x starting after cumulative count p contributes
    x*c*(2p + c - n), which is order-independent within the block, so
    the NDV-grain frame needs no per-row ranking.  Integer micro
    fixed point (values are integer counts); NULL for empty or
    zero-mass groups.

    Scale shape: one (group, value) partial-aggregated count —
    shuffle bounded by distinct values per group — then one window
    over each group's distinct-value frame and a group rollup."""
    s = docs.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("bigint").alias("val"),
    ).filter(F.col("val").isNotNull() & (F.col("val") >= 0))
    c = s.groupBy("grp", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot = c.groupBy("grp").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("val")).cast("bigint").alias("t"),
    )
    withp = c.withColumn(
        "p", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    ).join(tot, "grp")
    return (
        withp.groupBy("grp")
        .agg(
            F.first("n").alias("n_docs"),
            F.first("t").alias("total_mass"),
            F.sum(
                F.col("val")
                * F.col("cnt")
                * (2 * F.col("p") + F.col("cnt") - F.col("n"))
            )
            .cast("bigint")
            .alias("s"),
        )
        .select(
            "grp",
            "n_docs",
            "total_mass",
            F.when(
                (F.col("n_docs") > 0) & (F.col("total_mass") > 0),
                F.expr("(1000000 * s) DIV (n_docs * total_mass)"),
            )
            .cast("bigint")
            .alias("gini_micro"),
        )
    )


def ks_drift(
    docs: DataFrame, group_col: str = "source", value_col: str = "n_chars"
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic of each source's
    value distribution against the REST of the corpus — the standard
    distribution-drift gate before a source is admitted to a mixture
    (KS > threshold => the source's length/quality profile has moved).
    KS = max_v |F_src(v) - F_rest(v)|, evaluated at every distinct
    value in integer cross-multiplied form
    |cum_src * n_rest - cum_rest * n_src| so no division happens until
    the final ppm floor — exact, tie-safe, no float CDFs.

    Scale shape: one (group, value) partial-aggregated count (shuffle
    bounded by per-group NDV), one global distinct-value frame, a
    group x distinct-value spine with a forward-fill window to carry
    each group's running cumulative across values it lacks, and a
    group-grain max rollup.  Spine size = |groups| x NDV — bounded by
    design when values are discrete (lengths, scores, buckets).  The
    one unpartitioned window (the global CDF) runs on the DISTINCT-
    VALUE frame, never the row frame: its input is NDV-sized, so the
    single-partition WindowExec warning is benign at any corpus
    size."""
    s = docs.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("bigint").alias("val"),
    ).filter(F.col("val").isNotNull())
    c = s.groupBy("grp", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    gw = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    gvals = (
        c.groupBy("val")
        .agg(F.sum("cnt").cast("bigint").alias("gcnt"))
        .withColumn("gcum", F.sum("gcnt").over(gw))
    )
    totals = c.groupBy("grp").agg(F.sum("cnt").cast("bigint").alias("n_grp"))
    n_all = gvals.agg(F.sum("gcnt").cast("bigint").alias("n_all"))
    spine = totals.crossJoin(F.broadcast(gvals.select("val", "gcum")))
    sw = Window.partitionBy("grp").orderBy("val").rowsBetween(
        Window.unboundedPreceding, 0
    )
    filled = (
        spine.join(c, ["grp", "val"], "left")
        .withColumn(
            "cum_grp",
            F.coalesce(
                F.sum(F.coalesce(F.col("cnt"), F.lit(0))).over(sw), F.lit(0)
            ),
        )
        .crossJoin(F.broadcast(n_all))
    )
    return (
        filled.groupBy("grp")
        .agg(
            F.first("n_grp").alias("n_docs"),
            F.first("n_all").alias("n_total"),
            F.max(
                F.abs(
                    F.col("cum_grp") * (F.col("n_all") - F.col("n_grp"))
                    - (F.col("gcum") - F.col("cum_grp")) * F.col("n_grp")
                )
            )
            .cast("bigint")
            .alias("d_num"),
        )
        .select(
            "grp",
            "n_docs",
            F.when(
                (F.col("n_docs") > 0) & (F.col("n_total") > F.col("n_docs")),
                F.expr("(1000000 * d_num) DIV (n_docs * (n_total - n_docs))"),
            )
            .cast("bigint")
            .alias("ks_ppm"),
        )
    )


# Compaction planner policy: synthetic file = 4096-key range of the
# sort column, size tiers quadruple from 1024 rows, merge fan-in 4.
COMPACT_FILE_KEYS = 4096
COMPACT_TIER_BASE = 1024
COMPACT_TIERS = (1024, 4096, 16384, 65536, 262144, 1048576)
COMPACT_FANIN = 4


def compaction_plan(table: DataFrame, key_col: str = "l_orderkey") -> DataFrame:
    """Size-tiered compaction planner — the lakehouse maintenance pass
    (Iceberg/Delta OPTIMIZE) expressed as a query: derive the file
    list (contiguous key ranges of the sort column), assign each file
    a size tier, group every ``COMPACT_FANIN`` adjacent same-tier
    files into one merge task, and flag tasks whose merged key range
    overlaps any file of the NEXT tier (those rewrites must include
    the overlapping higher-tier data or produce overlapping outputs —
    the leveled-vs-tiered tradeoff made visible).

    Output grain: one row per planned merge task — tier, task id
    within tier, file and row counts, merged key range, overlap count
    against the next tier.  All exact and integer.

    Scale shape: one (file) aggregate over the key scan, a file-grain
    rank window per tier (file list is metadata-sized), the fan-in
    grouping, and a bounded range-intersection join file-list vs
    file-list.  Nothing here touches row-level data twice."""
    files = (
        table.select(
            F.expr(f"CAST({key_col} DIV {COMPACT_FILE_KEYS} AS BIGINT)")
            .alias("file_id"),
            F.col(key_col).cast("bigint").alias("k"),
        )
        .groupBy("file_id")
        .agg(
            F.min("k").alias("lo"),
            F.max("k").alias("hi"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )
    tier_expr = "CASE"
    for i, t in enumerate(COMPACT_TIERS):
        tier_expr += f" WHEN n_rows < {t} THEN {i}"
    tier_expr += f" ELSE {len(COMPACT_TIERS)} END"
    tiered = files.withColumn(
        "tier", F.expr(tier_expr).cast("bigint")
    ).localCheckpoint()
    tasks = (
        tiered.withColumn(
            "task",
            F.expr(f"CAST((ROW_NUMBER() OVER (PARTITION BY tier ORDER BY lo)"
                   f" - 1) DIV {COMPACT_FANIN} AS BIGINT)"),
        )
        .groupBy("tier", "task")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_rows").cast("bigint").alias("rows_in"),
            F.min("lo").alias("lo"),
            F.max("hi").alias("hi"),
        )
    )
    nxt = tiered.select(
        (F.col("tier") - 1).alias("tier"),
        F.col("lo").alias("nlo"),
        F.col("hi").alias("nhi"),
    )
    overlaps = (
        tasks.join(nxt, "tier", "left")
        .withColumn(
            "ov",
            F.when(
                (F.col("nlo") <= F.col("hi")) & (F.col("nhi") >= F.col("lo")),
                1,
            ).otherwise(0),
        )
        .groupBy("tier", "task", "n_files", "rows_in", "lo", "hi")
        .agg(F.sum("ov").cast("bigint").alias("next_tier_overlaps"))
    )
    return overlaps


def wasserstein_drift(
    docs: DataFrame, group_col: str = "source", value_col: str = "n_chars"
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance of each source's
    value distribution from the rest of the corpus — the drift gate's
    magnitude companion to `ks_drift`: KS reports the largest CDF gap,
    W1 integrates |F_src - F_rest| over the value axis, so a source
    whose whole distribution shifted a little and one with a narrow
    spike score differently.  Integer cross-multiplied:
    W1 * n_src * n_rest = sum over consecutive distinct values of
    |cum_src * n_rest - cum_rest * n_src| * value_gap, divided once at
    the end into milli value-units.

    Scale shape: identical to ks_drift — one NDV-bounded (group,
    value) aggregate, the |groups| x NDV spine with forward-fill
    windows, a group rollup; the only unpartitioned window runs on
    the distinct-value frame."""
    s = docs.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("bigint").alias("val"),
    ).filter(F.col("val").isNotNull())
    c = s.groupBy("grp", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    gw = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    gvals = (
        c.groupBy("val")
        .agg(F.sum("cnt").cast("bigint").alias("gcnt"))
        .withColumn("gcum", F.sum("gcnt").over(gw))
        .withColumn("gap", F.lead("val").over(Window.orderBy("val")) - F.col("val"))
    )
    totals = c.groupBy("grp").agg(F.sum("cnt").cast("bigint").alias("n_grp"))
    n_all = gvals.agg(F.sum("gcnt").cast("bigint").alias("n_all"))
    spine = totals.crossJoin(F.broadcast(gvals.select("val", "gcum", "gap")))
    sw = Window.partitionBy("grp").orderBy("val").rowsBetween(
        Window.unboundedPreceding, 0
    )
    filled = (
        spine.join(c, ["grp", "val"], "left")
        .withColumn(
            "cum_grp",
            F.coalesce(
                F.sum(F.coalesce(F.col("cnt"), F.lit(0))).over(sw), F.lit(0)
            ),
        )
        .crossJoin(F.broadcast(n_all))
    )
    return (
        filled.filter(F.col("gap").isNotNull())
        .groupBy("grp")
        .agg(
            F.first("n_grp").alias("n_docs"),
            F.first("n_all").alias("n_total"),
            F.sum(
                F.abs(
                    F.col("cum_grp") * (F.col("n_all") - F.col("n_grp"))
                    - (F.col("gcum") - F.col("cum_grp")) * F.col("n_grp")
                )
                * F.col("gap")
            )
            .cast("bigint")
            .alias("w_num"),
        )
        .select(
            "grp",
            "n_docs",
            F.when(
                (F.col("n_docs") > 0) & (F.col("n_total") > F.col("n_docs")),
                F.expr("(1000 * w_num) DIV (n_docs * (n_total - n_docs))"),
            )
            .cast("bigint")
            .alias("w1_milli"),
        )
    )


FS_BAND = 100


def fs_pattern_audit(docs: DataFrame) -> DataFrame:
    """Fellegi-Sunter agreement-pattern audit (Fellegi & Sunter 1969)
    over sorted-neighborhood candidate pairs: each pair's comparison
    vector over (lang, source, length-band) becomes a 3-bit pattern;
    the audit reports every pattern's observed frequency against its
    expectation under attribute INDEPENDENCE (the u-probability
    product the FS model starts from) — patterns whose lift over
    independence is large are where genuine matches live, and the
    table is exactly the E-step evidence an FS/EM linker consumes.

    Integer throughout: marginal agreement rates enter as exact pair
    counts; exp_ppm is computed as three chained floor-divisions by
    n_pairs (documented floor order, identical in the oracle) so no
    n^3 product ever overflows BIGINT.  lift_pm = 1000*obs/exp.

    Scale shape: the pair generator is the bounded SNM window (4N per
    pass, never block^2); attributes arrive by two doc_id equi-joins;
    then one 8-row pattern aggregate and single-row marginals
    broadcast back."""
    pairs = sorted_neighborhood(docs).select("doc_a", "doc_b")
    attrs = docs.select(
        "doc_id",
        F.col("lang").alias("l"),
        F.col("source").alias("s"),
        F.expr(f"CAST(n_chars DIV {FS_BAND} AS BIGINT)").alias("b"),
    )
    j = (
        pairs.join(
            attrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("l").alias("la"),
                F.col("s").alias("sa"),
                F.col("b").alias("ba"),
            ),
            "doc_a",
        )
        .join(
            attrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("l").alias("lb"),
                F.col("s").alias("sb"),
                F.col("b").alias("bb"),
            ),
            "doc_b",
        )
        .select(
            F.when(F.col("la") == F.col("lb"), 1).otherwise(0).alias("gl"),
            F.when(F.col("sa") == F.col("sb"), 1).otherwise(0).alias("gs"),
            F.when(F.col("ba") == F.col("bb"), 1).otherwise(0).alias("gb"),
        )
    )
    pat = j.groupBy(
        (4 * F.col("gl") + 2 * F.col("gs") + F.col("gb"))
        .cast("bigint")
        .alias("pattern"),
        "gl",
        "gs",
        "gb",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    marg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("gl").cast("bigint").alias("al"),
        F.sum("gs").cast("bigint").alias("as_"),
        F.sum("gb").cast("bigint").alias("ab"),
    )
    return (
        pat.crossJoin(F.broadcast(marg))
        .select(
            "pattern",
            "n_pairs",
            F.expr("(1000000 * n_pairs) DIV n").cast("bigint").alias("obs_ppm"),
            F.expr(
                "(((1000000 * (CASE WHEN gl = 1 THEN al ELSE n - al END))"
                " DIV n * (CASE WHEN gs = 1 THEN as_ ELSE n - as_ END))"
                " DIV n * (CASE WHEN gb = 1 THEN ab ELSE n - ab END)) DIV n"
            )
            .cast("bigint")
            .alias("exp_ppm"),
        )
        .withColumn(
            "lift_pm",
            F.expr("(1000 * obs_ppm) DIV greatest(1, exp_ppm)").cast("bigint"),
        )
    )


PSEUD_MOD = 1 << 52


def pseudonymize_audit(
    customer: DataFrame, orders: DataFrame, token_mod: int = PSEUD_MOD
) -> DataFrame:
    """Pseudonymization referential-integrity audit: replace the
    customer key with a deterministic truncated-hash token (the
    standard GDPR-pipeline key swap) and measure what the truncation
    costs — token collisions (two customers sharing a token) and the
    false join rows they would inject into every downstream key join.
    One output row: key/token/collision counts, the customer-orders
    join cardinality under raw keys vs tokens, and the excess.

    Scale shape: two distinct-count aggregates plus the two key joins
    the audit is about (both shuffle on the join key; the token join
    is the same plan with the token as key).  ``token_mod`` sets the
    token space; the default 2^52 is the repo-standard 13-hex hash
    width, and the audit PROVES its collision-freeness on the corpus
    rather than assuming it."""
    tok = (
        F.expr(
            "CAST(conv(substr(md5(concat('pseud:',"
            " CAST(c_custkey AS STRING))), 1, 13), 16, 10) AS BIGINT)"
        )
        % F.lit(int(token_mod))
    )
    cust = customer.select(
        F.col("c_custkey").cast("bigint").alias("key"), tok.alias("token")
    ).localCheckpoint()
    otok = (
        F.expr(
            "CAST(conv(substr(md5(concat('pseud:',"
            " CAST(o_custkey AS STRING))), 1, 13), 16, 10) AS BIGINT)"
        )
        % F.lit(int(token_mod))
    )
    ords = orders.select(
        F.col("o_custkey").cast("bigint").alias("key"), otok.alias("token")
    ).localCheckpoint()
    counts = cust.agg(
        F.countDistinct("key").cast("bigint").alias("n_keys"),
        F.countDistinct("token").cast("bigint").alias("n_tokens"),
    )
    raw_join = (
        ords.join(cust.select("key"), "key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("join_rows_raw"))
    )
    tok_join = (
        ords.select("token")
        .join(cust.select("token"), "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("join_rows_tok"))
    )
    return (
        counts.crossJoin(raw_join)
        .crossJoin(tok_join)
        .select(
            "n_keys",
            "n_tokens",
            (F.col("n_keys") - F.col("n_tokens"))
            .cast("bigint")
            .alias("n_collisions"),
            "join_rows_raw",
            "join_rows_tok",
            (F.col("join_rows_tok") - F.col("join_rows_raw"))
            .cast("bigint")
            .alias("excess_rows"),
        )
    )


NEYMAN_BUDGET = 1000


def neyman_allocation(
    docs: DataFrame,
    stratum_col: str = "lang",
    value_col: str = "n_chars",
    budget: int = NEYMAN_BUDGET,
) -> DataFrame:
    """Neyman (variance-optimal) stratified-sample allocation (Neyman
    1934): a fixed sampling budget is split across strata
    proportionally to N_h * sigma_h, so high-variance strata get more
    probes per row — the design step BEFORE `stratified_sample` when
    the goal is estimating a mean, not matching shares.  Integer
    seats via the largest-remainder method (exact, deterministic
    ties -> lower stratum name first), so allocations always sum to
    the budget.

    sigma enters through w_h = floor(sqrt(N_h*V_h/(N_h-1))) with
    V_h = N_h*sum(y^2) - sum(y)^2 — the int->double conversion, the
    IEEE sqrt and the floor are all correctly-rounded operations, so
    the value is deterministic and engine-identical even though a
    square root is involved (documented exception to the
    integer-only rule; singleton strata get w_h = 0).

    Scale shape: one stratum-grain aggregate (three sums), then all
    arithmetic on the strata-count-sized frame (single-row total
    broadcast, one tiny rank window for remainders)."""
    s = docs.select(
        F.col(stratum_col).alias("stratum"),
        F.col(value_col).cast("bigint").alias("y"),
    ).filter(F.col("y").isNotNull())
    per = s.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    w = per.select(
        "stratum",
        "n_rows",
        F.expr(
            "CASE WHEN n_rows > 1 THEN CAST(FLOOR(SQRT(CAST("
            "n_rows * (n_rows * syy - sy * sy) AS DOUBLE)"
            " / CAST(n_rows - 1 AS DOUBLE))) AS BIGINT) ELSE 0 END"
        ).alias("w_h"),
    )
    tot = w.agg(F.sum("w_h").cast("bigint").alias("w_tot"))
    b = int(budget)
    seats = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n_rows",
            "w_h",
            F.expr(f"CASE WHEN w_tot > 0 THEN ({b} * w_h) DIV w_tot"
                   " ELSE 0 END").cast("bigint").alias("base"),
            F.expr(f"CASE WHEN w_tot > 0 THEN ({b} * w_h) % w_tot"
                   " ELSE 0 END").cast("bigint").alias("rem"),
        )
    )
    ranked = seats.withColumn(
        "rk",
        F.expr(
            "ROW_NUMBER() OVER (ORDER BY rem DESC, stratum ASC)"
        ).cast("bigint"),
    ).crossJoin(
        F.broadcast(
            seats.agg(
                (F.lit(b) - F.sum("base")).cast("bigint").alias("leftover")
            )
        )
    )
    return ranked.select(
        "stratum",
        "n_rows",
        "w_h",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_alloc"),
    )


RT_PERMS = 64


def randomization_test(
    docs: DataFrame, n_perms: int = RT_PERMS
) -> DataFrame:
    """Approximate-randomization significance test (Noreen 1989; the
    label-shuffle test pipelines run before trusting a quality gap):
    is the alphabetic-per-mille quality of the even-suffixed sources
    genuinely different from the rest, or within re-randomization
    noise?  The statistic is the cross-multiplied mean difference
    X = sum_A*n_B - sum_B*n_A; ``n_perms`` deterministic hash
    re-assignments (Bernoulli 1/2, the standard approximate variant)
    rebuild its null distribution, and p_ppm = 1e6*(1 + #{|X_b| >=
    |X_obs| at each side's own scale}) / (n_perms + 1) with the
    add-one correction.

    The cross-scale comparison |X_b|*D_obs >= |X_obs|*D_b
    (D = n_A*n_B) is evaluated in double precision: every operand is
    an exact integer and IEEE multiply/compare is correctly rounded,
    so the verdict is engine-identical (documented float exception;
    exact up to N ~ 3e4 where the products still fit 2^53, and
    deterministic beyond).

    Scale shape: one map-only score pass, one explode by n_perms
    (bounded fan-out of two small columns), one (perm) aggregate of
    n_perms rows, single-row observed stats broadcast back."""
    scored = docs.select(
        F.expr(
            "(1000 * length(regexp_replace(lower(text), '[^a-z]', '')))"
            " DIV greatest(n_chars, 1)"
        )
        .cast("bigint")
        .alias("y"),
        F.expr(
            "CASE WHEN CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT)"
            " % 2 = 0 THEN 1 ELSE 0 END"
        ).alias("in_a"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    ).localCheckpoint()
    obs = scored.agg(
        F.sum(F.expr("CASE WHEN in_a = 1 THEN y ELSE 0 END"))
        .cast("bigint")
        .alias("sa"),
        F.sum("in_a").cast("bigint").alias("na"),
        F.sum(F.expr("CASE WHEN in_a = 0 THEN y ELSE 0 END"))
        .cast("bigint")
        .alias("sb"),
        F.sum(F.expr("CASE WHEN in_a = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("nb"),
    ).select(
        (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na"))
        .cast("bigint")
        .alias("x_obs"),
        (F.col("na") * F.col("nb")).cast("bigint").alias("d_obs"),
    )
    perms = (
        scored.select(
            "y",
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.lit(int(n_perms)))).alias("b"),
        )
        .withColumn(
            "pa",
            F.expr(
                "CAST(conv(substr(md5(concat('rt:', CAST(doc_id AS STRING),"
                " '#', CAST(b AS STRING))), 1, 13), 16, 10) AS BIGINT) % 2"
            ),
        )
        .groupBy("b")
        .agg(
            F.sum(F.expr("CASE WHEN pa = 0 THEN y ELSE 0 END"))
            .cast("bigint")
            .alias("sa"),
            F.sum(F.expr("CASE WHEN pa = 0 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("na"),
            F.sum(F.expr("CASE WHEN pa = 1 THEN y ELSE 0 END"))
            .cast("bigint")
            .alias("sb"),
            F.sum(F.expr("CASE WHEN pa = 1 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("nb"),
        )
        .select(
            (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na"))
            .cast("bigint")
            .alias("x_b"),
            (F.col("na") * F.col("nb")).cast("bigint").alias("d_b"),
        )
    )
    hits = perms.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            F.expr(
                "CASE WHEN ABS(CAST(x_b AS DOUBLE)) * CAST(d_obs AS DOUBLE)"
                " >= ABS(CAST(x_obs AS DOUBLE)) * CAST(d_b AS DOUBLE)"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("n_ge")
    )
    return (
        obs.crossJoin(F.broadcast(hits))
        .select(
            "x_obs",
            "d_obs",
            "n_ge",
            F.expr(
                f"(1000000 * (1 + n_ge)) DIV {int(n_perms) + 1}"
            )
            .cast("bigint")
            .alias("p_ppm"),
        )
    )


def did_estimator(events: DataFrame) -> DataFrame:
    """Difference-in-differences estimator (Card & Krueger 1994 form)
    over the event feed: treated = even user ids, control = odd;
    pre/post split at the midpoint of the observed time range (the
    deterministic stand-in for a rollout timestamp — callers pass
    real cohorts by renaming columns).  Outcome = event value in
    cents.  DiD = (mean_T_post - mean_T_pre) - (mean_C_post -
    mean_C_pre), with each cell mean floored to integer micro first
    (documented floor order, identical in the oracle) so the
    estimate needs no n^4 common denominator.

    One output row: the four cells' counts, sums and micro means,
    and did_micro.  On a no-effect corpus the estimate hovers near
    zero — the causal-inference sanity gate before attributing a
    metric shift to a rollout.

    Scale shape: one map-only cell tag + one 4-row aggregate;
    the min/max midpoint is a single-row broadcast."""
    base = events.select(
        F.expr("CAST(user_id % 2 = 0 AS INT)").alias("treated"),
        F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT)").alias("ts_s"),
        F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("y"),
    )
    rng = base.agg(
        F.expr("(MIN(ts_s) + MAX(ts_s)) DIV 2").cast("bigint").alias("mid")
    )
    cells = (
        base.crossJoin(F.broadcast(rng))
        .select(
            "treated",
            F.expr("CAST(ts_s >= mid AS INT)").alias("post"),
            "y",
        )
        .groupBy("treated", "post")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("s"),
        )
        .withColumn(
            "mean_micro", F.expr("(1000000 * s) DIV n").cast("bigint")
        )
    )
    # one wide row via conditional sums (no pivot quirks)
    agg_cols = []
    for t in (0, 1):
        for po in (0, 1):
            for src, nm in (("n", "n"), ("s", "s"), ("mean_micro", "m")):
                agg_cols.append(
                    F.sum(
                        F.when(
                            (F.col("treated") == t) & (F.col("post") == po),
                            F.col(src),
                        ).otherwise(0)
                    )
                    .cast("bigint")
                    .alias(f"{nm}_t{t}_p{po}")
                )
    row = cells.agg(*agg_cols)
    return row.select(
        *[f"n_t{t}_p{p}" for t in (0, 1) for p in (0, 1)],
        *[f"m_t{t}_p{p}" for t in (0, 1) for p in (0, 1)],
        (
            (F.col("m_t1_p1") - F.col("m_t1_p0"))
            - (F.col("m_t0_p1") - F.col("m_t0_p0"))
        )
        .cast("bigint")
        .alias("did_micro"),
    )


def loso_valuation(docs: DataFrame) -> DataFrame:
    """Leave-one-source-out data valuation — the cheapest honest
    member of the data-Shapley family (Ghorbani & Zou 2019 motivate
    it as the first-order ablation): for every source, the corpus
    quality metric WITH the source vs WITHOUT it, from one aggregate
    pass (global sums minus per-source sums — no re-scan per source).
    Metric = mean alphabetic-per-mille quality in integer micro.
    A source whose removal RAISES the corpus mean (delta_micro < 0)
    is a candidate for down-weighting in the mixture.

    Scale shape: one map-only score pass, one source-grain aggregate,
    single-row totals broadcast back; |sources| output rows."""
    scored = docs.select(
        F.col("source").alias("grp"),
        F.expr(
            "(1000 * length(regexp_replace(lower(text), '[^a-z]', '')))"
            " DIV greatest(n_chars, 1)"
        )
        .cast("bigint")
        .alias("y"),
    )
    per = scored.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grp"),
        F.sum("y").cast("bigint").alias("s_grp"),
    )
    tot = per.agg(
        F.sum("n_grp").cast("bigint").alias("n_all"),
        F.sum("s_grp").cast("bigint").alias("s_all"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "grp",
        F.col("n_grp").alias("n_docs"),
        F.expr("(1000 * n_grp) DIV n_all").cast("bigint").alias("share_pm"),
        F.expr("(1000000 * s_all) DIV n_all").cast("bigint").alias(
            "mean_with_micro"
        ),
        F.expr(
            "CASE WHEN n_all > n_grp THEN"
            " (1000000 * (s_all - s_grp)) DIV (n_all - n_grp) END"
        )
        .cast("bigint")
        .alias("mean_without_micro"),
        F.expr(
            "CASE WHEN n_all > n_grp THEN"
            " (1000000 * s_all) DIV n_all"
            " - (1000000 * (s_all - s_grp)) DIV (n_all - n_grp) END"
        )
        .cast("bigint")
        .alias("delta_micro"),
    )


def theilsen_trend(events: DataFrame) -> DataFrame:
    """Theil-Sen robust trend per event type (Theil 1950; Sen 1968):
    the MEDIAN of all pairwise day-slopes of the zero-filled daily
    count series — immune to the outlier days that wreck an OLS
    slope, which is why monitoring pipelines prefer it for "is this
    feed growing or dying" calls.  Lower median, deterministic order
    (slope, then numerator, then denominator).  slope_milli =
    floor(1000 * num / den) of the median pair (IEEE double division
    + floor: correctly rounded, engine-identical).

    Scale shape: the series is (type x day) — calendar-sized, not
    event-sized — so the D*(D-1)/2 pair explode and the per-type
    median window all run on frames bounded by |types| x days^2
    (~450 pairs per type per month).  The event-sized work is one
    (type, day) aggregate."""
    daily = events.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = (
        events.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
        )
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.datediff("d", F.to_date(F.lit("2024-01-01"))).alias("di"),
        )
    )
    series = (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.col("di").cast("bigint").alias("di"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("c"),
        )
        .localCheckpoint()
    )
    a = series.select(
        "event_type", F.col("di").alias("i"), F.col("c").alias("ci")
    )
    b = series.select(
        "event_type", F.col("di").alias("j"), F.col("c").alias("cj")
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("j") > F.col("i"))
        .select(
            "event_type",
            (F.col("cj") - F.col("ci")).alias("num"),
            (F.col("j") - F.col("i")).alias("den"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.expr("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"), "num", "den"
    )
    ranked = pairs.withColumn("rn", F.row_number().over(w)).join(
        pairs.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs")
        ),
        "event_type",
    )
    med = ranked.filter(F.expr("rn = (n_pairs + 1) DIV 2"))
    return med.select(
        "event_type",
        "n_pairs",
        F.expr("CAST(FLOOR(1000.0 * num / den) AS BIGINT)").alias(
            "slope_milli"
        ),
    )


ENC_RLE_OVERHEAD = 4


def _bits_case(col: str, max_bits: int = 32) -> str:
    """Smallest b with 2^b >= col, as an unrolled integer CASE (no
    float log2 — libm rounding is not engine-portable)."""
    whens = " ".join(
        f"WHEN {col} <= {1 << b} THEN {b}" for b in range(max_bits + 1)
    )
    return f"CASE {whens} ELSE {max_bits + 1} END"


def encoding_advisor(table: DataFrame, cols: tuple) -> DataFrame:
    """Parquet-encoding advisor — the physical-design companion to
    `column_stats` / `compaction_plan` / `zorder_layout`: for each
    column, estimate the stored size under PLAIN (sum of value text
    bytes), DICT (distinct values' bytes + n * ceil(log2 ndv) bits)
    and RLE (runs in the table's sort order x (max value bytes +
    overhead)), and advise the cheapest.  The run count is measured
    against the DEFINED layout order (orderkey, linenumber, value)
    [the value tiebreak makes the order total: (orderkey,
    linenumber) is not unique in the fixture, and an ambiguous
    tie order would make the run count engine-dependent] — the
    same order a writer sorted by the table's sort key would see.

    All integer: byte lengths of the canonical string form, unrolled
    integer CASE for the dictionary bit width (no float log2).

    Scale shape: one unpivot + per-column lag window partitioned by
    column (each partition sorts one column's rows — at warehouse
    scale the advisor runs on a file-level sample, as real writers
    do), then a column-grain rollup."""
    stack = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    unp = table.select(
        F.expr(
            f"stack({len(cols)}, {stack}) AS (column_name, val)"
        ),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("pos"),
    ).filter(F.col("val").isNotNull())
    w = Window.partitionBy("column_name").orderBy("pos", "val")
    runs = unp.withColumn(
        "new_run",
        F.when(
            F.lag("val").over(w).isNull()
            | (F.lag("val").over(w) != F.col("val")),
            1,
        ).otherwise(0),
    )
    per_val = runs.groupBy("column_name", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    stats = runs.groupBy("column_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.length("val")).cast("bigint").alias("plain_bytes"),
        F.sum("new_run").cast("bigint").alias("n_runs"),
        F.max(F.length("val")).cast("bigint").alias("max_len"),
    )
    dstats = per_val.groupBy("column_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("ndv"),
        F.sum(F.length("val")).cast("bigint").alias("dict_value_bytes"),
    )
    j = stats.join(dstats, "column_name").withColumn(
        "dict_bits", F.expr(_bits_case("ndv")).cast("bigint")
    )
    return j.select(
        "column_name",
        "n_rows",
        "ndv",
        "n_runs",
        "plain_bytes",
        F.expr(
            "dict_value_bytes + (n_rows * dict_bits + 7) DIV 8"
        )
        .cast("bigint")
        .alias("dict_bytes"),
        F.expr(f"n_runs * (max_len + {ENC_RLE_OVERHEAD})")
        .cast("bigint")
        .alias("rle_bytes"),
        F.expr(
            f"CASE WHEN n_runs * (max_len + {ENC_RLE_OVERHEAD})"
            " <= least(plain_bytes,"
            " dict_value_bytes + (n_rows * dict_bits + 7) DIV 8)"
            " THEN 'rle'"
            " WHEN dict_value_bytes + (n_rows * dict_bits + 7) DIV 8"
            " <= plain_bytes THEN 'dict' ELSE 'plain' END"
        ).alias("advice"),
    )


BRIER_BINS = 10


def brier_decomposition(
    docs: DataFrame, n_bins: int = BRIER_BINS
) -> DataFrame:
    """Murphy decomposition of the Brier score (Murphy 1973):
    BS = REL - RES + UNC over ``n_bins`` equal-width forecast bins —
    reliability (how far each bin's mean forecast sits from its hit
    rate), resolution (how much the bins separate the base rate) and
    uncertainty (the base rate's own variance).  The quality score
    (alphabetic per-mille / 1000) plays the forecast, source parity
    the outcome — the same fixture pair the ROC-AUC and calibration
    gates use, so the three evaluations agree on what they grade.

    Integer ppm fixed point: per-bin mean forecast and hit rate floor
    to ppm first, the squared deviations then stay exact (documented
    floor order; products bounded by N * 1e12 — fits BIGINT to
    N ~ 9e6 forecasts, beyond which the caller shards by group).
    Output: one row (n, base_ppm, rel_ppm, res_ppm, unc_ppm,
    brier_ppm = rel - res + unc).

    Scale shape: one map-only score pass, one n_bins-row aggregate,
    single-row totals broadcast back."""
    scored = docs.select(
        F.expr(
            "(1000 * length(regexp_replace(lower(text), '[^a-z]', '')))"
            " DIV greatest(n_chars, 1)"
        )
        .cast("bigint")
        .alias("y"),
        F.expr(
            "CASE WHEN CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT)"
            " % 2 = 0 THEN 1 ELSE 0 END"
        )
        .cast("bigint")
        .alias("lab"),
    ).select(
        (F.col("y") * 1000).alias("p_ppm"),
        "lab",
        F.least(
            F.lit(int(n_bins) - 1), F.expr(f"y DIV (1000 DIV {int(n_bins)})")
        ).alias("bin"),
    )
    per = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("p_ppm").cast("bigint").alias("sp"),
        F.sum("lab").cast("bigint").alias("pos"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("pos").cast("bigint").alias("npos"),
    ).select("nn", "npos", F.expr("(1000000 * npos) DIV nn").alias("base_ppm"))
    binned = per.crossJoin(F.broadcast(tot)).select(
        "n",
        "nn",
        "base_ppm",
        "npos",
        F.expr("sp DIV n").alias("mean_ppm"),
        F.expr("(1000000 * pos) DIV n").alias("hit_ppm"),
    )
    return binned.agg(
        F.first("nn").alias("n"),
        F.first("base_ppm").alias("base_ppm"),
        F.expr(
            "SUM(n * (mean_ppm - hit_ppm) * (mean_ppm - hit_ppm))"
            " DIV (FIRST(nn) * 1000000)"
        )
        .cast("bigint")
        .alias("rel_ppm"),
        F.expr(
            "SUM(n * (hit_ppm - base_ppm) * (hit_ppm - base_ppm))"
            " DIV (FIRST(nn) * 1000000)"
        )
        .cast("bigint")
        .alias("res_ppm"),
        F.expr(
            "(FIRST(base_ppm) * (1000000 - FIRST(base_ppm))) DIV 1000000"
        )
        .cast("bigint")
        .alias("unc_ppm"),
    ).select(
        "n",
        "base_ppm",
        "rel_ppm",
        "res_ppm",
        "unc_ppm",
        (F.col("rel_ppm") - F.col("res_ppm") + F.col("unc_ppm"))
        .cast("bigint")
        .alias("brier_ppm"),
    )


SLO_BUDGET_PPM = 10_000   # 99% SLO -> 1% error budget
SLO_SHORT_H = 1
SLO_LONG_H = 6
SLO_BURN_PM = 2000        # alert when both windows burn at >= 2x


def slo_burn(events: DataFrame) -> DataFrame:
    """Multi-window burn-rate SLO alerting (the Google SRE workbook
    policy): per hour, the error rate over the trailing short window
    (1 h) and long window (6 h) as a burn multiple of the error
    budget (99 % SLO -> 1 %); an alert fires only when BOTH windows
    burn at >= 2x — the short window gives speed, the long window
    kills flapping.  Integer ppm / per-mille throughout.

    Output grain: one row per hour with totals, both burn rates and
    the alert flag — the exact evaluation an alerting pipeline
    replays over history to tune its thresholds.

    Scale shape: one (hour) aggregate over the feed (calendar-sized
    output), then two trailing windows on the hour frame — the
    unpartitioned windows run on the CALENDAR-sized frame (<= 8,760
    rows/year), never the event frame.  Row-trailing windows assume
    an hour-dense feed (true of any telemetry stream; zero-fill a
    spine first for sparse feeds, as cusum_changepoints does)."""
    hourly = events.groupBy(
        F.expr("CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT)").alias(
            "hour"
        )
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN event_type = 'error' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("err"),
    )
    ws = Window.orderBy("hour").rowsBetween(-(SLO_SHORT_H - 1), 0)
    wl = Window.orderBy("hour").rowsBetween(-(SLO_LONG_H - 1), 0)
    burned = (
        hourly.withColumn("n_s", F.sum("n").over(ws))
        .withColumn("e_s", F.sum("err").over(ws))
        .withColumn("n_l", F.sum("n").over(wl))
        .withColumn("e_l", F.sum("err").over(wl))
        .select(
            "hour",
            "n",
            "err",
            F.expr(
                f"(1000 * ((1000000 * e_s) DIV n_s)) DIV {SLO_BUDGET_PPM}"
            )
            .cast("bigint")
            .alias("short_burn_pm"),
            F.expr(
                f"(1000 * ((1000000 * e_l) DIV n_l)) DIV {SLO_BUDGET_PPM}"
            )
            .cast("bigint")
            .alias("long_burn_pm"),
        )
    )
    return burned.withColumn(
        "alert",
        (
            (F.col("short_burn_pm") >= SLO_BURN_PM)
            & (F.col("long_burn_pm") >= SLO_BURN_PM)
        ).cast("boolean"),
    )


def seasonal_profile(events: DataFrame) -> DataFrame:
    """Day-of-week seasonal decomposition per event type: the
    zero-filled daily series splits into a dow profile (mean per
    weekday position) and residuals; seasonality strength =
    1 - SS_resid/SS_total (Hyndman's STL strength statistic) says how
    much of the series the weekly cycle explains — the triage number
    before alerting on 'traffic is down' (it may just be Sunday).

    Deci fixed point (x10) for the means and residuals — squares must
    stay inside BIGINT at warehouse daily volumes (safe to ~1e8
    events/day); strength reported in ppm, clamped at 0.  Output one
    row per type: n_days, best/worst dow by mean, strength_ppm,
    largest |residual| day.

    Scale shape: one (type, day) aggregate (event-sized work), then
    everything on the calendar-sized frame."""
    daily = events.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = (
        events.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
        )
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.datediff("d", F.to_date(F.lit("2024-01-01"))).alias("di"),
        )
    )
    series = (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.col("di").cast("bigint").alias("di"),
            (F.col("di") % 7).cast("bigint").alias("dow"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("c"),
        )
        .localCheckpoint()
    )
    dowm = series.groupBy("event_type", "dow").agg(
        F.expr("(10 * SUM(c)) DIV COUNT(*)").cast("bigint").alias("mean_deci")
    )
    totm = series.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.expr("(10 * SUM(c)) DIV COUNT(*)").cast("bigint").alias("gmean_deci"),
    )
    r = (
        series.join(dowm, ["event_type", "dow"])
        .join(totm, "event_type")
        .select(
            "event_type",
            "di",
            "dow",
            "n_days",
            (10 * F.col("c") - F.col("mean_deci")).alias("resid_deci"),
            (10 * F.col("c") - F.col("gmean_deci")).alias("dev_deci"),
            "mean_deci",
        )
    )
    # argmax |resid| with smallest-day tie-break via one integer key
    # (di < 4096 by construction of the fixture time ranges)
    return (
        r.groupBy("event_type")
        .agg(
            F.first("n_days").alias("n_days"),
            F.max("mean_deci").cast("bigint").alias("best_dow_mean_deci"),
            F.min("mean_deci").cast("bigint").alias("worst_dow_mean_deci"),
            F.expr(
                "CASE WHEN SUM(dev_deci * dev_deci) > 0 THEN"
                " greatest(0, (1000000 * (SUM(dev_deci * dev_deci)"
                " - SUM(resid_deci * resid_deci)))"
                " DIV SUM(dev_deci * dev_deci)) ELSE 0 END"
            )
            .cast("bigint")
            .alias("strength_ppm"),
            (
                4095
                - F.max(
                    F.abs(F.col("resid_deci")) * 4096 + (4095 - F.col("di"))
                )
                % 4096
            )
            .cast("bigint")
            .alias("worst_resid_day"),
        )
    )


def learned_index_audit(
    table: DataFrame, key_col: str = "l_orderkey",
    file_keys: int = COMPACT_FILE_KEYS,
) -> DataFrame:
    """Learned-index epsilon audit (Kraska et al. 2018; the PGM/RMI
    feasibility check): per file (contiguous key range), fit the
    least-squares line position ~ key on the DISTINCT-key CDF frame
    and report the maximum absolute position error — the epsilon a
    single linear model would need to cover that file, i.e. the
    binary-search window a learned index pays.  Files with epsilon
    near 0 are learned-index friendly (dense sequential keys); large
    epsilon flags skewed inserts.

    The OLS sums are exact integers; slope/intercept and the residual
    take one IEEE double evaluation each (correctly rounded and
    engine-identical given the same expression shape — the repo's
    documented float exception), and the reported error floors back
    to integer rows.

    Scale shape: one (file, key) aggregate, one per-file cumulative
    window on the distinct-key frame, one file-grain rollup —
    file-count-sized output."""
    # keys are CENTERED to the file start (k % file_keys): the fit is
    # translation-invariant, and raw-key moment sums overflow BIGINT
    # once keys reach ~1e7 (n * sum(k^2) at 4096 keys/file)
    g = (
        table.select(
            F.expr(f"CAST({key_col} DIV {int(file_keys)} AS BIGINT)").alias(
                "file_id"
            ),
            F.expr(f"CAST({key_col} % {int(file_keys)} AS BIGINT)").alias(
                "k"
            ),
        )
        .groupBy("file_id", "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w = Window.partitionBy("file_id").orderBy("k").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cdf = g.withColumn("p", F.sum("cnt").over(w))
    sums = cdf.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum("p").cast("bigint").alias("sp"),
        F.sum(F.col("k") * F.col("p")).cast("bigint").alias("skp"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("skk"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
    )
    fit = sums.select(
        "file_id",
        "n",
        "n_rows",
        "sk",
        "sp",
        F.expr(
            "CASE WHEN n * skk - sk * sk > 0 THEN"
            " (CAST(n AS DOUBLE) * skp - CAST(sk AS DOUBLE) * sp)"
            " / (CAST(n AS DOUBLE) * skk - CAST(sk AS DOUBLE) * sk)"
            " ELSE 0.0 END"
        ).alias("b"),
    ).withColumn(
        "a",
        F.expr("(CAST(sp AS DOUBLE) - b * CAST(sk AS DOUBLE))"
               " / CAST(n AS DOUBLE)"),
    )
    err = (
        cdf.join(fit.select("file_id", "a", "b", "n", "n_rows"), "file_id")
        .select(
            "file_id",
            "n",
            "n_rows",
            "b",
            F.expr(
                "CAST(FLOOR(ABS(CAST(p AS DOUBLE)"
                " - (a + b * CAST(k AS DOUBLE)))) AS BIGINT)"
            ).alias("e"),
        )
    )
    return err.groupBy("file_id").agg(
        F.first("n").alias("n_keys"),
        F.first("n_rows").alias("n_rows"),
        F.expr("CAST(FLOOR(1000000.0 * FIRST(b)) AS BIGINT)").alias(
            "slope_micro"
        ),
        F.max("e").cast("bigint").alias("max_err_rows"),
    )


SEL_PREDICATES = ((0, 2), (2, 4), (4, 6), (6, 8), (1, 7))  # eighths


def selectivity_audit(table: DataFrame) -> DataFrame:
    """Histogram selectivity-estimation audit — the closing piece of
    the CBO suite (`column_stats` -> `equidepth_hist` -> does the
    histogram actually predict?): for planted range predicates
    (fixed eighths of each column's value range), estimate the row
    count from the 8-bucket equi-depth histogram with intra-bucket
    linear interpolation, compare against the exact count, and report
    the q-error — the optimizer-quality number (Moerkotte et al.
    2009: plans degrade with max q-error).

    All integer: bucket overlap fractions are (n * overlap) DIV
    width; q_error_milli = 1000 * max(est,true) / max(1, min(est,
    true)).

    Scale shape: one histogram build (NDV-bounded, see
    equidepth_hist), one single-row min/max broadcast, the exact
    counts as ONE predicate-tagged aggregate pass, and the estimate
    arithmetic on the 8-bucket frame."""
    cols = ("l_extendedprice", "l_quantity")
    hist = equidepth_hist(
        table, cents_cols=cols
    ).localCheckpoint()
    rng = hist.groupBy("column_name").agg(
        F.min("lo").alias("vmin"), F.max("hi").alias("vmax")
    )
    preds = rng.select(
        "column_name",
        "vmin",
        "vmax",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("p_lo8"), F.lit(j).alias("p_hi8")
                    )
                    for i, j in SEL_PREDICATES
                ]
            )
        ).alias("p"),
    ).select(
        "column_name",
        F.concat(
            F.col("p.p_lo8").cast("string"),
            F.lit("-"),
            F.col("p.p_hi8").cast("string"),
        ).alias("pred"),
        F.expr("vmin + ((vmax - vmin) * p.p_lo8) DIV 8")
        .cast("bigint")
        .alias("q_lo"),
        F.expr("vmin + ((vmax - vmin) * p.p_hi8) DIV 8")
        .cast("bigint")
        .alias("q_hi"),
    ).localCheckpoint()
    # estimate: per (pred, bucket) overlap with linear interpolation
    est = (
        preds.join(hist, "column_name")
        .select(
            "column_name",
            "pred",
            "q_lo",
            "q_hi",
            "n_rows",
            F.greatest(F.col("lo"), F.col("q_lo")).alias("ov_lo"),
            F.least(F.col("hi"), F.col("q_hi")).alias("ov_hi"),
            (F.col("hi") - F.col("lo") + 1).alias("width"),
        )
        .filter(F.col("ov_hi") >= F.col("ov_lo"))
        .select(
            "column_name",
            "pred",
            F.expr(
                "(n_rows * (ov_hi - ov_lo + 1)) DIV width"
            ).alias("contrib"),
        )
        .groupBy("column_name", "pred")
        .agg(F.sum("contrib").cast("bigint").alias("est_rows"))
    )
    # exact: one predicate-tagged pass
    vals = table.selectExpr(
        "stack(2, 'l_extendedprice',"
        " CAST(FLOOR(l_extendedprice * 100) AS BIGINT),"
        " 'l_quantity', CAST(FLOOR(l_quantity * 100) AS BIGINT))"
        " AS (column_name, v)"
    )
    true_rows = (
        vals.join(F.broadcast(preds), "column_name")
        .filter(
            (F.col("v") >= F.col("q_lo")) & (F.col("v") <= F.col("q_hi"))
        )
        .groupBy("column_name", "pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_rows"))
    )
    return (
        preds.select("column_name", "pred")
        .join(est, ["column_name", "pred"], "left")
        .join(true_rows, ["column_name", "pred"], "left")
        .select(
            "column_name",
            "pred",
            F.coalesce("est_rows", F.lit(0)).cast("bigint").alias("est_rows"),
            F.coalesce("true_rows", F.lit(0))
            .cast("bigint")
            .alias("true_rows"),
        )
        .withColumn(
            "q_error_milli",
            F.expr(
                "(1000 * greatest(est_rows, true_rows))"
                " DIV greatest(1, least(est_rows, true_rows))"
            ).cast("bigint"),
        )
    )


def quantile_normalize(
    docs: DataFrame, group_col: str = "source", value_col: str = "n_chars"
) -> DataFrame:
    """Per-source quantile normalization (the score-debiasing step
    before cross-source comparison, e.g. Bolstad et al. 2003 in the
    array-normalization literature): each source value maps to the
    CORPUS value at the same within-source CDF position, so a source
    whose scorer runs hot no longer floods a global threshold.
    Returned as the NDV-grain mapping table (grp, val, cnt,
    norm_val) — appliers join it back to rows.

    norm_val = the smallest corpus value whose global cumulative
    count satisfies gcum * n_src >= cum_src * n_all (exact integer
    cross-multiplication; no float quantile positions).

    Scale shape: the same NDV-bounded frames as ks_drift; the inverse-
    CDF lookup is a broadcast join of the per-source value frame
    against the global distinct-value frame (both NDV-bounded), with
    a min aggregate standing in for the as-of search."""
    s = docs.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("bigint").alias("val"),
    ).filter(F.col("val").isNotNull())
    c = s.groupBy("grp", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    gw = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    gvals = (
        c.groupBy("val")
        .agg(F.sum("cnt").cast("bigint").alias("gcnt"))
        .withColumn("gcum", F.sum("gcnt").over(gw))
        .select(F.col("val").alias("gval"), "gcum")
        .localCheckpoint()
    )
    n_all = gvals.agg(F.max("gcum").cast("bigint").alias("n_all"))
    sw = Window.partitionBy("grp").orderBy("val").rowsBetween(
        Window.unboundedPreceding, 0
    )
    totals = c.groupBy("grp").agg(F.sum("cnt").cast("bigint").alias("n_grp"))
    src = (
        c.withColumn("cum", F.sum("cnt").over(sw))
        .join(totals, "grp")
        .crossJoin(F.broadcast(n_all))
    )
    return (
        src.join(
            F.broadcast(gvals),
            F.col("gcum") * F.col("n_grp") >= F.col("cum") * F.col("n_all"),
        )
        .groupBy("grp", "val", "cnt")
        .agg(F.min("gval").cast("bigint").alias("norm_val"))
    )


DC_RULES = (
    "negative_price",
    "discount_range",
    "ship_before_order",
    "qty_not_integral",
)


def denial_constraints(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Denial-constraint audit (Chomicki & Marcinkowski 2005; the
    data-quality rule form every warehouse check compiles to): count
    the rows violating each business rule, including one CROSS-TABLE
    rule that needs the orders join — the shape that separates a real
    DQ engine from per-column null counts.  Rules:
    negative_price (extendedprice < 0), discount_range (discount
    outside [0,1]), ship_before_order (l_shipdate < o_orderdate),
    qty_not_integral (quantity has cents).  Every rule row is always
    present (zero violations IS the result).

    Scale shape: three rules are one map-side conditional aggregate;
    the cross-table rule is one orderkey equi-join feeding the same
    pass — violations never materialize row-wise."""
    j = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        lineitem["l_orderkey"] == F.col("o_orderkey"),
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.expr("CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("negative_price"),
        F.sum(
            F.expr("CASE WHEN l_discount < 0 OR l_discount > 1"
                   " THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("discount_range"),
        F.sum(F.expr("CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("ship_before_order"),
        F.sum(
            F.expr(
                "CASE WHEN CAST(FLOOR(l_quantity * 100) AS BIGINT) % 100"
                " <> 0 THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("qty_not_integral"),
    )
    stacked = agg.selectExpr(
        "n_rows",
        "stack(4, "
        + ", ".join(f"'{r}', {r}" for r in DC_RULES)
        + ") AS (rule, n_violations)",
    )
    return stacked.select(
        "rule",
        F.col("n_violations").cast("bigint").alias("n_violations"),
        "n_rows",
        F.expr("(1000000 * n_violations) DIV n_rows")
        .cast("bigint")
        .alias("violation_ppm"),
    )


def cube_profile(docs: DataFrame) -> DataFrame:
    """CUBE aggregation with grouping_id over (source, lang): doc
    counts and total characters at every grouping level in ONE pass —
    the OLAP operator (Gray et al. 1996) a dashboard backend asks for
    instead of 4 separate GROUP BYs.  NULL group keys are surfaced as
    '<all>' so the level is readable and the cross-engine compare is
    null-free.

    Scale shape: Spark expands the input 4x (the standard cube
    expand) into one partial-aggregated shuffle bounded by the
    grouping-set cardinalities."""
    return (
        docs.cube("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
        .select(
            F.coalesce("source", F.lit("<all>")).alias("source"),
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            "gid",
            "n_docs",
            "total_chars",
        )
    )


MERKLE_SHARD = 1024
MERKLE_LEVELS = 10  # 2^10 = shard capacity


def merkle_manifest(docs: DataFrame) -> DataFrame:
    """Per-shard Merkle roots over document content — the
    per-partition LINEAGE artifact a resumable pipeline logs next to
    its audit ledger: any re-run (or any replica) recomputes the same
    root iff the shard's content is byte-identical, so corruption,
    drift and partial writes surface as one hash mismatch instead of
    a row-level diff.  Leaves are md5(doc_id:md5(text)) ordered by
    doc_id; levels fold pairwise (odd node promoted), ``MERKLE_LEVELS``
    levels cover the ``MERKLE_SHARD`` cap — shards are doc_id ranges,
    so the tree shape is deterministic and engine-independent.

    Output: (source, shard, n_docs, root).

    Scale shape: one leaf-hash map pass, then MERKLE_LEVELS bounded
    (source, shard, pos)-keyed aggregates, each halving the frame —
    the total fold work is 2x the leaf count regardless of levels."""
    leaves = docs.select(
        "source",
        F.expr(f"CAST(doc_id DIV {MERKLE_SHARD} AS BIGINT)").alias("shard"),
        F.col("doc_id").cast("bigint").alias("k"),
        F.expr(
            "md5(concat(CAST(doc_id AS STRING), ':', md5(text)))"
        ).alias("h"),
    )
    w = Window.partitionBy("source", "shard").orderBy("k")
    cur = leaves.withColumn(
        "pos", (F.row_number().over(w) - 1).cast("bigint")
    ).select("source", "shard", "pos", "h")
    counts = cur.groupBy("source", "shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    for _ in range(MERKLE_LEVELS):
        cur = (
            cur.groupBy(
                "source", "shard", F.expr("pos DIV 2").alias("pos")
            )
            .agg(
                F.min(
                    F.when(F.col("pos") % 2 == 0, F.col("h"))
                ).alias("hl"),
                F.min(
                    F.when(F.col("pos") % 2 == 1, F.col("h"))
                ).alias("hr"),
            )
            .select(
                "source",
                "shard",
                "pos",
                F.when(
                    F.col("hr").isNotNull(),
                    F.expr("md5(concat(hl, hr))"),
                )
                .otherwise(F.col("hl"))
                .alias("h"),
            )
        )
    return counts.join(
        cur.select("source", "shard", F.col("h").alias("root")),
        ["source", "shard"],
    )


def txn_conflicts(events: DataFrame) -> DataFrame:
    """Optimistic-concurrency write-write conflict audit: two
    'concurrent' edit batches (even/odd event ids — the deterministic
    stand-in for two jobs committing against the same snapshot) each
    reduce to a write set (last write per key within the batch, by
    (ts, event_id)); the audit counts the overlapping keys and
    resolves them first-writer-wins — exactly the check a lakehouse
    commit protocol runs before accepting the second transaction.

    One output row: write-set sizes, conflict count, wins per side
    under first-writer (earlier winning write's (ts, event_id)).

    Scale shape: one key-grain max aggregate per batch (same pass,
    batch-tagged), one key equi-join of the two write sets."""
    w = events.select(
        F.expr("CAST(event_id % 2 AS INT)").alias("batch"),
        F.concat(F.lit("K"), (F.col("user_id") % 50).cast("string")).alias(
            "key"
        ),
        F.expr(
            "CAST(floor(unix_timestamp(ts)) AS BIGINT) * 100000000"
            " + event_id"
        ).alias("wkey"),
    )
    ws = w.groupBy("batch", "key").agg(F.max("wkey").alias("last_w"))
    a = ws.filter(F.col("batch") == 0).select(
        "key", F.col("last_w").alias("wa")
    )
    b = ws.filter(F.col("batch") == 1).select(
        "key", F.col("last_w").alias("wb")
    )
    j = a.join(b, "key", "full")
    return j.agg(
        F.sum(F.expr("CASE WHEN wa IS NOT NULL THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_keys_a"),
        F.sum(F.expr("CASE WHEN wb IS NOT NULL THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_keys_b"),
        F.sum(
            F.expr(
                "CASE WHEN wa IS NOT NULL AND wb IS NOT NULL"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("n_conflicts"),
        F.sum(
            F.expr(
                "CASE WHEN wa IS NOT NULL AND wb IS NOT NULL"
                " AND wa < wb THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("a_wins"),
        F.sum(
            F.expr(
                "CASE WHEN wa IS NOT NULL AND wb IS NOT NULL"
                " AND wb < wa THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("b_wins"),
    )


def good_turing(docs: DataFrame) -> DataFrame:
    """Good-Turing frequency smoothing statistics (Good 1953): the
    frequency-of-frequencies table of the token unigram distribution
    with the GT adjusted count r* = (r+1) * N_{r+1} / N_r in milli,
    and the unseen-mass estimate p0 = N_1 / N in ppm — the numbers an
    n-gram LM (or a coverage forecaster: 'how much new vocab will the
    next crawl add?') reads off before smoothing.  r* is NULL where
    N_{r+1} is empty (the unsmoothed-tail honesty; Katz backoff
    regresses those).

    Scale shape: one token explode + (token) count, one (r) count of
    counts — the freq-of-freq frame is tiny — then a LEAD window on
    it."""
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("r")
    )
    fof = counts.groupBy("r").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    )
    tot = fof.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("bigint").alias("n_tokens")
    )
    w = Window.orderBy("r")
    return (
        fof.withColumn("r_next", F.lead("r").over(w))
        .withColumn("n_next", F.lead("n_r").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_r",
            F.when(
                F.col("r_next") == F.col("r") + 1,
                F.expr("(1000 * (r + 1) * n_next) DIV n_r"),
            )
            .cast("bigint")
            .alias("r_star_milli"),
            F.expr("(1000000 * n_r * r) DIV n_tokens")
            .cast("bigint")
            .alias("mass_ppm"),
        )
    )


def nextevent_eval(events: DataFrame) -> DataFrame:
    """Next-event prediction eval of the popularity baseline — the
    floor any sequence model must beat: for every consecutive
    user-event transition, the 'prediction' is the globally most
    frequent event type (ranking by count desc, name asc), scored
    hit@1 and MRR against the actual next event, broken out by the
    PRECEDING type so the table shows exactly where conditioning on
    history would pay.  Integer: per-transition reciprocal rank
    floors to milli first (documented), hit rate in per-mille.

    Scale shape: one per-user lag window (user-partitioned), the
    type-count ranking is a broadcast of |types| rows, one
    (prev_type) rollup."""
    pop = (
        events.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wr = Window.orderBy(F.col("cnt").desc(), F.col("event_type").asc())
    rank = pop.select(
        F.col("event_type").alias("next_type"),
        F.row_number().over(wr).cast("bigint").alias("prank"),
    )
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(wu))
        .filter(F.col("next_type").isNotNull())
        .select(F.col("event_type").alias("prev_type"), "next_type")
    )
    scored = trans.join(F.broadcast(rank), "next_type")
    return scored.groupBy("prev_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.expr(
            "(1000 * SUM(CASE WHEN prank = 1 THEN 1 ELSE 0 END))"
            " DIV COUNT(*)"
        )
        .cast("bigint")
        .alias("hit1_pm"),
        F.expr("SUM(1000 DIV prank) DIV COUNT(*)")
        .cast("bigint")
        .alias("mrr_milli"),
    )


SYN_COLS = ("o_orderstatus", "o_orderpriority")


def synthetic_marginals(orders: DataFrame) -> DataFrame:
    """Synthetic-data-release audit (the Datasynthesizer/'independent
    attribute mode' contract): regenerate each categorical column
    independently from its own marginal via deterministic
    hash-positioned inverse-CDF sampling, then measure what survived
    — per-column marginal total-variation distance (should be ~0:
    marginals are preserved up to sampling noise) and the JOINT
    total-variation distance from the product of marginals, real vs
    synthetic (real keeps its dependence; synthetic destroys it —
    that destruction IS the privacy mechanism, and this audit prices
    it).  All integer ppm, cross-multiplied (tvd = sum|n_cell*N -
    n_row*n_col| / (2*N^2)).

    Scale shape: marginal frames are category-sized; the synthetic
    assignment is one hash map pass joined against broadcast
    inverse-CDF tables; joints are category^2-sized aggregates."""
    n_all = orders.count()
    cols = SYN_COLS

    def marginal(col):
        w = Window.orderBy(col)
        return (
            orders.groupBy(col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .withColumn("cum", F.sum("cnt").over(w))
            .select(
                F.col(col).alias("val"),
                "cnt",
                (F.col("cum") - F.col("cnt")).alias("lo"),
                F.col("cum").alias("hi"),
            )
        )

    synth = orders.select(F.col("o_orderkey").cast("bigint").alias("i"))
    for col in cols:
        m = marginal(col)
        r = F.expr(
            f"CAST(conv(substr(md5(concat('syn:{col}:',"
            f" CAST(i AS STRING))), 1, 13), 16, 10) AS BIGINT)"
            f" % {int(n_all)}"
        )
        synth = (
            synth.withColumn("r", r)
            .join(
                F.broadcast(m),
                (F.col("r") >= F.col("lo")) & (F.col("r") < F.col("hi")),
            )
            .select("i", *[c for c in synth.columns if c != "i" and c != "r"],
                    F.col("val").alias(col))
        )

    def tvd(df, a, b):
        cells = df.groupBy(a, b).agg(
            F.count(F.lit(1)).cast("bigint").alias("nc")
        )
        ra = df.groupBy(a).agg(F.count(F.lit(1)).cast("bigint").alias("na"))
        rb = df.groupBy(b).agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
        full = (
            ra.crossJoin(rb)
            .join(cells, [a, b], "left")
            .select(
                F.coalesce("nc", F.lit(0)).alias("nc"), "na", "nb"
            )
        )
        return full.agg(
            F.expr(
                f"(1000000 * SUM(ABS(nc * {int(n_all)}L - na * nb)))"
                f" DIV (2L * {int(n_all)}L * {int(n_all)}L)"
            )
            .cast("bigint")
            .alias("v")
        )

    def marg_tvd(col):
        real = orders.groupBy(F.col(col).alias("val")).agg(
            F.count(F.lit(1)).cast("bigint").alias("nr")
        )
        syn = synth.groupBy(F.col(col).alias("val")).agg(
            F.count(F.lit(1)).cast("bigint").alias("ns")
        )
        return (
            real.join(syn, "val", "full")
            .select(
                F.coalesce("nr", F.lit(0)).alias("nr"),
                F.coalesce("ns", F.lit(0)).alias("ns"),
            )
            .agg(
                F.expr(
                    f"(1000000 * SUM(ABS(nr - ns))) DIV (2L * {int(n_all)}L)"
                )
                .cast("bigint")
                .alias("v")
            )
        )

    a, b = cols
    rows = (
        marg_tvd(a).select(F.lit(f"marginal_tvd:{a}").alias("metric"), "v")
        .unionByName(
            marg_tvd(b).select(
                F.lit(f"marginal_tvd:{b}").alias("metric"), "v"
            )
        )
        .unionByName(
            tvd(orders, a, b).select(
                F.lit("joint_tvd_real").alias("metric"), "v"
            )
        )
        .unionByName(
            tvd(synth, a, b).select(
                F.lit("joint_tvd_synth").alias("metric"), "v"
            )
        )
    )
    return rows.select("metric", F.col("v").alias("tvd_ppm"))


def design_effect(docs: DataFrame) -> DataFrame:
    """Cluster-sampling design effect (Kish 1965): if you sample
    whole SOURCES (blocks) instead of documents, how much does the
    variance of a mean estimate inflate?  DEFF = 1 + (m-1)*ICC with
    the one-way-ANOVA intraclass correlation — ICC near 0 means
    block sampling is nearly free, ICC near 1 means a block sample
    of k sources carries only ~k effective observations.  The number
    that justifies (or kills) per-file and per-shard sampling plans.

    Integer with documented floor points: per-group SS terms floor
    once (S_g^2 DIV n_g), mean squares floor at their divisions, ICC
    in ppm, DEFF in milli.

    Scale shape: one (source) aggregate of three sums; everything
    after runs on the group-count-sized frame."""
    per = docs.select(
        F.col("source").alias("g"),
        F.col("n_chars").cast("bigint").alias("y"),
    ).groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("y").cast("bigint").alias("s_g"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("q_g"),
    )
    comps = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum(F.expr("q_g - (s_g * s_g) DIV n_g"))
        .cast("bigint")
        .alias("ssw"),
        F.sum(F.expr("(s_g * s_g) DIV n_g")).cast("bigint").alias("ssb_raw"),
    )
    return comps.select(
        "k",
        "n",
        F.expr("ssb_raw - (s * s) DIV n").cast("bigint").alias("ssb"),
        "ssw",
    ).select(
        "k",
        "n",
        "ssb",
        "ssw",
        F.expr("ssb DIV (k - 1)").cast("bigint").alias("msb"),
        F.expr("ssw DIV (n - k)").cast("bigint").alias("msw"),
    ).select(
        "k",
        "n",
        "ssb",
        "ssw",
        F.expr(
            "CASE WHEN msb + ((n DIV k) - 1) * msw > 0 THEN"
            " greatest(0, (1000000 * (msb - msw))"
            " DIV (msb + ((n DIV k) - 1) * msw)) ELSE 0 END"
        )
        .cast("bigint")
        .alias("icc_ppm"),
    ).select(
        "k",
        "n",
        "ssb",
        "ssw",
        "icc_ppm",
        F.expr("1000 + (((n DIV k) - 1) * icc_ppm * 1000) DIV 1000000")
        .cast("bigint")
        .alias("deff_milli"),
    )


def window_profile(docs: DataFrame, n_tiles: int = 10) -> DataFrame:
    """Per-source NTILE decile profile of document length — the
    windowed-ranking operator surface (NTILE's uneven-remainder
    semantics included) rolled into a per-(source, decile) summary a
    curation dashboard bins by: row count and exact value bounds per
    tile.  NTILE assigns ceil/floor group sizes with the remainder to
    the FIRST tiles — identical in Spark and DuckDB, pinned here.

    Scale shape: one per-source window (each source's docs sort
    within their partition), then a (source, decile) aggregate."""
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    tiled = docs.select(
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    ).withColumn("decile", F.ntile(int(n_tiles)).over(w).cast("bigint"))
    return tiled.groupBy("source", "decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("lo"),
        F.max("n_chars").cast("bigint").alias("hi"),
    )


TTE_FROM = "view"
TTE_TO = "purchase"


def time_to_event(events: DataFrame) -> DataFrame:
    """Time-to-event (survival) summary: per user, the delay from the
    first '{from}' to the first subsequent '{to}' event; users who
    never convert are CENSORED, not dropped — the censoring rate is
    half the result (a conversion median computed only on converters
    flatters every funnel).  Exact type-1 quartiles of the observed
    delays via cumulative counts on the distinct-delay frame.

    One output row: users at risk, conversions, censor rate
    per-mille, p25/p50/p75 delay seconds.

    Scale shape: two conditional min aggregates per user (one pass),
    one NDV-bounded delay-frame window for the quartiles."""
    per = events.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == TTE_FROM,
                F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT)"),
            )
        ).alias("tv")
    )
    # first qualifying TO event at-or-after the first FROM
    tos = (
        events.filter(F.col("event_type") == TTE_TO)
        .select(
            "user_id",
            F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT)").alias("tp"),
        )
        .join(per, "user_id")
        .filter(F.col("tp") >= F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("tp").alias("tp"))
    )
    risk = per.filter(F.col("tv").isNotNull())
    conv = risk.join(tos, "user_id", "left").select(
        "user_id", (F.col("tp") - F.col("tv")).alias("delay_s")
    )
    dcnt = (
        conv.filter(F.col("delay_s").isNotNull())
        .groupBy("delay_s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wd = Window.orderBy("delay_s").rowsBetween(Window.unboundedPreceding, 0)
    cum = dcnt.withColumn("cum", F.sum("cnt").over(wd)).crossJoin(
        F.broadcast(
            dcnt.agg(F.sum("cnt").cast("bigint").alias("n_conv"))
        )
    )

    def q(mult, div):
        return F.min(
            F.when(
                F.col("cum") * div >= F.col("n_conv") * mult,
                F.col("delay_s"),
            )
        )

    quart = cum.agg(
        F.first("n_conv").alias("n_conv"),
        q(1, 4).cast("bigint").alias("p25_s"),
        q(2, 4).cast("bigint").alias("p50_s"),
        q(3, 4).cast("bigint").alias("p75_s"),
    )
    totals = conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_risk"),
        F.sum(F.expr("CASE WHEN delay_s IS NULL THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_censored"),
    )
    return totals.crossJoin(F.broadcast(quart)).select(
        "n_risk",
        F.col("n_conv").cast("bigint").alias("n_converted"),
        F.expr("(1000 * n_censored) DIV n_risk")
        .cast("bigint")
        .alias("censor_pm"),
        "p25_s",
        "p50_s",
        "p75_s",
    )


def confusion_eval(
    labeled: DataFrame, truth_col: str = "truth", pred_col: str = "pred"
) -> DataFrame:
    """Classifier confusion evaluation — per-class precision, recall
    and F1 in ppm plus a macro-F1 summary row, from one (truth, pred)
    aggregate: the standard eval table the kappa/calibration gates in
    this registry don't produce.  F1 enters as the integer harmonic
    form 2*tp*1e6 DIV (n_truth + n_pred); classes never predicted or
    never true still get their row (their zeros ARE the finding).
    The macro row averages F1 over TRUTH classes (floor).

    Scale shape: one (truth, pred) aggregate (class^2-bounded), then
    arithmetic on the class-sized frame."""
    cells = labeled.groupBy(
        F.col(truth_col).alias("t"), F.col(pred_col).alias("p")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    by_t = cells.groupBy("t").agg(
        F.sum("n").cast("bigint").alias("n_truth")
    )
    by_p = cells.groupBy("p").agg(
        F.sum("n").cast("bigint").alias("n_pred")
    )
    tp = cells.filter(F.col("t") == F.col("p")).select(
        F.col("t").alias("cls"), F.col("n").alias("tp")
    )
    classes = (
        by_t.select(F.col("t").alias("cls"))
        .unionByName(by_p.select(F.col("p").alias("cls")))
        .distinct()
    )
    per = (
        classes.join(by_t.withColumnRenamed("t", "cls"), "cls", "left")
        .join(by_p.withColumnRenamed("p", "cls"), "cls", "left")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("n_truth", F.lit(0)).cast("bigint").alias("n_truth"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
        .withColumn(
            "precision_ppm",
            F.expr(
                "CASE WHEN n_pred > 0 THEN (1000000 * tp) DIV n_pred END"
            ).cast("bigint"),
        )
        .withColumn(
            "recall_ppm",
            F.expr(
                "CASE WHEN n_truth > 0 THEN (1000000 * tp) DIV n_truth END"
            ).cast("bigint"),
        )
        .withColumn(
            "f1_ppm",
            F.expr(
                "CASE WHEN n_truth + n_pred > 0 THEN"
                " (2000000 * tp) DIV (n_truth + n_pred) END"
            ).cast("bigint"),
        )
    )
    macro = per.filter(F.col("n_truth") > 0).agg(
        F.lit("__macro__").alias("cls"),
        F.sum("n_truth").cast("bigint").alias("n_truth"),
        F.sum("n_pred").cast("bigint").alias("n_pred"),
        F.sum("tp").cast("bigint").alias("tp"),
        F.lit(None).cast("bigint").alias("precision_ppm"),
        F.lit(None).cast("bigint").alias("recall_ppm"),
        F.expr("SUM(COALESCE(f1_ppm, 0)) DIV COUNT(*)")
        .cast("bigint")
        .alias("f1_ppm"),
    )
    return per.unionByName(macro)


WINSOR_LO_PM = 50   # p5
WINSOR_HI_PM = 950  # p95


def winsorized_stats(docs: DataFrame) -> DataFrame:
    """Winsorized and trimmed means per source (Tukey; the robust
    location estimators complementing the median/MAD monitor):
    clamp-at-p5/p95 mean and the interior-only trimmed mean, with the
    exact type-1 percentile bounds from the NDV-grain cumulative
    frame.  Integer micro means (documented floor).

    Scale shape: one (source, value) NDV-bounded aggregate, one
    per-source cumulative window, bounds broadcast back into one
    clamped aggregate over the same NDV frame (never re-scanning
    rows)."""
    c = docs.select(
        F.col("source").alias("grp"),
        F.col("n_chars").cast("bigint").alias("val"),
    ).groupBy("grp", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("grp").orderBy("val").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = c.withColumn("cum", F.sum("cnt").over(w)).join(
        c.groupBy("grp").agg(F.sum("cnt").cast("bigint").alias("n")), "grp"
    )
    bounds = cum.groupBy("grp").agg(
        F.min(
            F.when(
                F.col("cum") * 1000 >= F.col("n") * WINSOR_LO_PM,
                F.col("val"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("cum") * 1000 >= F.col("n") * WINSOR_HI_PM,
                F.col("val"),
            )
        ).alias("hi"),
        F.first("n").alias("n"),
    )
    j = c.join(bounds, "grp")
    return j.groupBy("grp").agg(
        F.first("n").cast("bigint").alias("n_docs"),
        F.first("lo").cast("bigint").alias("p5"),
        F.first("hi").cast("bigint").alias("p95"),
        F.expr(
            "(1000000 * SUM(cnt * least(greatest(val, lo), hi))) DIV SUM(cnt)"
        )
        .cast("bigint")
        .alias("winsor_mean_micro"),
        F.expr(
            "CASE WHEN SUM(CASE WHEN val BETWEEN lo AND hi THEN cnt"
            " ELSE 0 END) > 0 THEN (1000000 * SUM(CASE WHEN val BETWEEN"
            " lo AND hi THEN cnt * val ELSE 0 END))"
            " DIV SUM(CASE WHEN val BETWEEN lo AND hi THEN cnt"
            " ELSE 0 END) END"
        )
        .cast("bigint")
        .alias("trimmed_mean_micro"),
    )
