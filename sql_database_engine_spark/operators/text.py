"""Text-analysis and deduplication operators over `documents`.

The LLM-training-data-pipeline surface: exact dedup, fingerprinting,
token statistics, quality scoring, language-ID heuristics, n-gram
Jaccard near-dup, MinHash/SimHash near-dup. Everything row-level is
built-in column expressions (codegen'd, scan-speed at 100 TB); the
pairwise near-dup operators bucket before they pair so no worker ever
materializes a cross product of the corpus.

Determinism notes: quality/ratio scores divide exact integer counts
(bit-reproducible); hashing uses md5/sha2 (identical hex in Spark and
DuckDB) — never engine-private hash functions.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..catalog import Catalog
from . import query

# Whitespace tokenization shared by every operator: documents use
# single-space separators (verified in FIXTURES probing); a production
# corpus would normalize whitespace first.
def _tokens():
    # built lazily: Column construction needs an active SparkContext
    return F.split(F.col("text"), " ")

STOPWORDS = ("the", "a", "of", "and", "to")
_STOP_SQL = "('the', 'a', 'of', 'and', 'to')"


def _word_bigrams(d: DataFrame, *extra_cols: str) -> DataFrame:
    """Distinct word-bigram shingles per document: (doc_id, extra...,
    gram).

    Built with posexplode + window lead instead of array higher-order
    functions: HOFs (transform/aggregate/array_distinct) run
    interpreted per element, while explode/window/concat stay inside
    whole-stage codegen — measured ~8× faster at sf0.1 and the gap
    widens with document count. Documents with fewer than 2 tokens
    yield no shingles (lead is NULL), matching the array formulation.
    """
    toks = d.select("doc_id", *extra_cols,
                    F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    return (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", *extra_cols, F.concat_ws(" ", "tok", "nxt").alias("gram"))
        .distinct()
    )


@query(
    "text_stats_per_lang",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents GROUP BY lang, source
    """,
)
def text_stats_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per (lang, source) stratum."""
    d = Catalog(spark, sf_dir).documents
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


@query(
    "token_counts",
    oracle="""
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tokens,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting per document (total + distinct) —
    the `wc` of the pipeline, pure column expressions."""
    d = Catalog(spark, sf_dir).documents
    return d.select(
        "doc_id", "lang",
        F.size(_tokens()).alias("n_tokens"),
        F.size(F.array_distinct(_tokens())).alias("n_distinct_tokens"),
        F.col("n_chars"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> t IN {_STOP_SQL})) AS INT)
               AS n_stopwords,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> t IN {_STOP_SQL})) AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS distinct_ratio
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal features per document: stopword ratio (fluency
    proxy), mean token length, distinct-token ratio (repetition
    proxy). All ratios divide exact integer counts — deterministic.
    These are the standard cheap filters (C4/Gopher-style) applied
    before expensive dedup at corpus scale."""
    d = Catalog(spark, sf_dir).documents
    stops = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(_tokens(), lambda t: F.array_contains(stops, t)))
    n_tok = F.size(_tokens())
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        (n_stop.cast("double") / n_tok).alias("stopword_ratio"),
        (F.col("n_chars").cast("double") / n_tok).alias("avg_token_len"),
        (F.size(F.array_distinct(_tokens())).cast("double") / n_tok).alias("distinct_ratio"),
    )


@query(
    "lang_id_heuristic",
    oracle="""
    SELECT doc_id, lang AS lang_true,
           CASE
             WHEN len(list_filter(string_split(text, ' '),
                                  t -> t IN ('stream', 'batch', 'window'))) >
                  len(list_filter(string_split(text, ' '),
                                  t -> t IN ('table', 'row', 'column')))
             THEN 'streamish' ELSE 'tablish'
           END AS lang_guess
    FROM documents
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-vote language-ID: count marker-word hits per class,
    argmax wins. (The synthetic corpus shares one vocabulary, so the
    marker sets are domain words; with real text these are per-language
    stopword lists — same plan shape, still zero Python.)"""
    d = Catalog(spark, sf_dir).documents
    streamish = F.array(F.lit("stream"), F.lit("batch"), F.lit("window"))
    tablish = F.array(F.lit("table"), F.lit("row"), F.lit("column"))
    n_s = F.size(F.filter(_tokens(), lambda t: F.array_contains(streamish, t)))
    n_t = F.size(F.filter(_tokens(), lambda t: F.array_contains(tablish, t)))
    return d.select(
        "doc_id", F.col("lang").alias("lang_true"),
        F.when(n_s > n_t, "streamish").otherwise("tablish").alias("lang_guess"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(text))) AS fingerprint,
           sha256(text) AS content_hash,
           substring(md5(lower(trim(text))), 1, 4) AS shard_bucket
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content fingerprints (md5 of casefolded text +
    sha256 of raw bytes) and a 16-bit shard bucket — the primitive
    under exact dedup and content-addressed storage. Hash functions
    chosen for cross-engine identical output (never Spark's
    xxhash/Murmur, which are engine-private)."""
    d = Catalog(spark, sf_dir).documents
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.sha2(F.col("text"), 256).alias("content_hash"),
        F.substring(fp, 1, 4).alias("shard_bucket"),
    )


@query(
    "dedup_exact_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_dupes
    FROM documents
    """,
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate census over content hashes. Hash-then-distinct
    means the shuffle carries 32-byte digests, not document bodies —
    the difference between feasible and not at 100 TB."""
    d = Catalog(spark, sf_dir).documents
    h = F.sha2(F.col("text"), 256)
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(h)).alias("n_dupes"),
    )


@query(
    "dedup_exact_keep_first",
    oracle="""
    SELECT content_hash, doc_id AS kept_doc_id,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM (
        SELECT sha256(text) AS content_hash, doc_id,
               ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY sha256(text)) AS n_copies
        FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the lowest doc_id per content hash,
    reporting group multiplicity. One shuffle on the digest."""
    d = Catalog(spark, sf_dir).documents
    h = F.sha2(F.col("text"), 256)
    w = W.partitionBy("content_hash")
    return (
        d.select("doc_id", h.alias("content_hash"))
        .withColumn("rn", F.row_number().over(w.orderBy("doc_id")))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .filter(F.col("rn") == 1)
        .select("content_hash", F.col("doc_id").alias("kept_doc_id"),
                F.col("n_copies").alias("n_copies"))
    )


@query(
    "ngram_jaccard_neardup",
    oracle="""
    WITH grams AS (
        SELECT doc_id, source, unnest(list_distinct(g)) AS gram,
               len(list_distinct(g)) AS n_grams
        FROM (
            SELECT doc_id, source,
                   list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 1),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i + 1]) AS g
            FROM documents
        )
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST(COUNT(*) AS DOUBLE)
               / (any_value(a.n_grams) + any_value(b.n_grams) - COUNT(*)) AS jaccard
    FROM grams a JOIN grams b
      ON a.source = b.source AND a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING CAST(COUNT(*) AS DOUBLE)
               / (any_value(a.n_grams) + any_value(b.n_grams) - COUNT(*)) >= 0.5
    """,
)
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by word-bigram Jaccard >= 0.5, candidates
    restricted to the same source.

    Scale shape: explode distinct bigrams → self-join on
    (source, gram) → count common grams per pair → Jaccard from
    inclusion-exclusion. The (source, gram) key bounds bucket size, so
    the join never goes quadratic in the corpus — the same skeleton
    MinHash-LSH uses, with exact grams instead of hashed bands.
    Jaccard divides exact integers → deterministic vs the oracle.
    """
    d = Catalog(spark, sf_dir).documents
    # One materialized shingle relation for both self-join sides (the
    # explode+window+distinct pipeline re-derived per side otherwise —
    # plan audit r11; values unchanged, r4 precedent).
    g = (_word_bigrams(d, "source")
         .withColumn("n_grams", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
         .localCheckpoint(eager=False))
    a = g.alias("a")
    b = g.alias("b")
    pairs = (
        a.join(b, (F.col("a.source") == F.col("b.source"))
               & (F.col("a.gram") == F.col("b.gram"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"),
             F.first(F.col("a.n_grams")).alias("na"),
             F.first(F.col("b.n_grams")).alias("nb"))
    )
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


#: MinHash configuration: 32 affine permutations over a 32-bit
#: md5-derived gram hash, 8 bands x 4 rows, Mersenne-prime modulus.
#: Fixed literal coefficient family (seed=7) shared verbatim by the
#: Spark plan and the DuckDB oracle below.
_MH_P = 2_147_483_647  # Mersenne prime 2^31 - 1
_MH_N_PERM, _MH_BANDS = 32, 8
_MH_ROWS_PER_BAND = _MH_N_PERM // _MH_BANDS


def _mh_coeffs() -> list[tuple[int, int]]:
    import random
    rng = random.Random(7)
    return [(rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30))
            for _ in range(_MH_N_PERM)]


def _mh_signatures(d: DataFrame) -> DataFrame:
    """Per-doc MinHash signature ``(doc_id, s)``, ``s`` the array of
    the N permutation mins: gram hashed once, the mins as vectorized
    partial aggregates.
    Shared by the batch, incremental and banding-sweep operators —
    one signature scheme, one place to change it.

    r12 shape (guide §2.3 — aggregate before you shuffle): bigrams
    come from explode(arrays_zip(slice, slice)) — a map-side array
    op, not the _word_bigrams window — and grams are NOT deduped:
    MIN is duplicate-blind, so per-doc dedup cannot move a signature
    bit (the oracle's list_distinct feeds the same mins). That drops
    BOTH corpus-grain exchanges the old pipeline paid (the token-grain
    lead() window shuffle and the (doc_id, gram) distinct); the only
    exchange left carries the 32 partial mins per doc per partition.
    A/B'd bit-identical at sf0.1; 1.13 → 0.96 s for the signature
    relation alone."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    z = F.arrays_zip(F.slice(toks, 1, n - 1).alias("t1"),
                     F.slice(toks, 2, n - 1).alias("t2"))
    exploded = (d.select("doc_id", F.explode(z).alias("p"))
                .select("doc_id",
                        F.concat_ws(" ", F.col("p.t1"),
                                    F.col("p.t2")).alias("gram"))
                .withColumn(
                    "h", F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10)
                    .cast("long")))
    return exploded.groupBy("doc_id").agg(F.array(*[
        F.min((F.col("h") * a + b) % _MH_P)
        for a, b in _mh_coeffs()
    ]).alias("s"))


#: Signature agreement of a bucket pair: how many of the N
#: permutation mins ``r.s`` and ``m.s`` share, as the estimated Jaccard.
_MH_EST_JACCARD = (
    "CAST(size(filter(zip_with(r.s, m.s, (x, y) -> x = y), t -> t))"
    f" AS DOUBLE) / {_MH_N_PERM}")


def _mh_bucket_pairs(rows: DataFrame, bands: int, rows_per_band: int,
                     pair: str, emit: list[tuple[str, str]]) -> DataFrame:
    """:func:`_bucket_pairs` over signature structs ``r = (id, s, ...)``
    banded ``bands`` x ``rows_per_band``: band ``b``'s bucket key is
    its slice of ``s``, and two docs agree in it when every min of the
    slice is equal."""
    from .similarity import _bucket_pairs

    def agrees(b: int) -> str:
        return " AND ".join(f"r.s[{k}] = m.s[{k}]" for k in range(
            b * rows_per_band, (b + 1) * rows_per_band))

    return _bucket_pairs(
        rows, bands,
        key=f"slice(r.s, band * {rows_per_band} + 1, {rows_per_band})",
        agrees=agrees, pair=pair, emit=emit)


def _mh_sql_parts() -> tuple[str, str, str, str]:
    """Shared DuckDB fragments of the MinHash pipeline replay: the
    per-permutation MIN list, the band UNION, the agreement sum, and
    the base CTE chain (grams -> hashes -> signatures -> bands). One
    source of truth for both the batch and the incremental oracle."""
    coeffs = _mh_coeffs()
    mins = ",\n               ".join(
        f"MIN((h * {a} + {b}) % {_MH_P}) AS mh{i}"
        for i, (a, b) in enumerate(coeffs))
    band_rows = "\n        UNION ALL\n".join(
        "        SELECT doc_id, {bid} AS band_id, concat_ws('-', {cols})"
        " AS band_key FROM sig".format(
            bid=i, cols=", ".join(
                f"mh{i * _MH_ROWS_PER_BAND + r}"
                for r in range(_MH_ROWS_PER_BAND)))
        for i in range(_MH_BANDS))
    agree = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(_MH_N_PERM))
    base = f"""
    WITH g AS (
        SELECT DISTINCT doc_id, unnest(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1])) AS gram
        FROM documents
    ), h AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(gram), 1, 8))::UBIGINT AS BIGINT)
                   AS h
        FROM g
    ), sig AS (
        SELECT doc_id,
               {mins}
        FROM h GROUP BY doc_id
    ), bands AS (
{band_rows}
    )"""
    return mins, band_rows, agree, base


def _minhash_oracle() -> str:
    """DuckDB replay of the full MinHash+LSH pipeline. The gram hash
    is the first 8 md5 hex digits as an integer — a construction both
    engines express exactly (Spark ``conv``, DuckDB hex cast) — so
    signatures, bands, candidates, and the agreement filter are all
    bit-reproducible; the probabilistic operator gets a REAL oracle."""
    _, _, agree, base = _mh_sql_parts()
    return f"""{base}, cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(({agree}) AS DOUBLE) / {_MH_N_PERM} AS est_jaccard
    FROM cand
    JOIN sig sa ON sa.doc_id = doc_a
    JOIN sig sb ON sb.doc_id = doc_b
    WHERE ({agree}) * 2 >= {_MH_N_PERM}
    """


def _minhash_incremental_oracle() -> str:
    """The incremental restriction of the same replay: only pairs
    with a batch doc on the right and (index doc OR earlier batch
    doc) on the left."""
    _, _, agree, base = _mh_sql_parts()
    return f"""{base}, cand AS (
        SELECT DISTINCT a.doc_id AS partner_doc, b.doc_id AS batch_doc
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND b.doc_id % 10 >= 8
         AND (a.doc_id % 10 < 8 OR a.doc_id < b.doc_id)
         AND a.doc_id <> b.doc_id
    )
    SELECT batch_doc, partner_doc,
           CASE WHEN partner_doc % 10 >= 8 THEN 'batch' ELSE 'index' END
               AS partner_src,
           CAST(({agree}) AS DOUBLE) / {_MH_N_PERM} AS est_jaccard
    FROM cand
    JOIN sig sa ON sa.doc_id = partner_doc
    JOIN sig sb ON sb.doc_id = batch_doc
    WHERE ({agree}) * 2 >= {_MH_N_PERM}
    """


@query("minhash_lsh_neardup", oracle=_minhash_oracle())
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates: 32 permutations, 8 bands × 4
    rows. Pipeline: word-bigram shingles → per-permutation min of
    (a_i * h(gram) + b_i mod p) → band buckets → pairs inside each
    bucket verified by signature agreement >= 0.5.

    One ``documents`` scan and no join: :func:`_mh_bucket_pairs` groups
    each band bucket once, keeps a pair only in its lowest agreeing
    band, and scores it from the two signatures already in the bucket,
    so there is no ``distinct`` and no signature re-join. Bucket sizes
    are capped by banding probability, not corpus size. The gram hash
    is md5-derived (first 8 hex digits as int) rather than crc32:
    ~equally cheap at this width, and expressible in DuckDB, which
    upgrades this operator from rows-only to fully oracle-checked —
    the oracle replays permutations, banding, and agreement verbatim.
    """
    # Permutation arithmetic stays within int64 under ANSI mode:
    # h < 2^32 and a,b < 2^30 keep h*a+b < 2^63 (no overflow).
    rows = (_mh_signatures(Catalog(spark, sf_dir).documents)
            .selectExpr("struct(doc_id AS id, s) AS r"))
    return (
        _mh_bucket_pairs(rows, _MH_BANDS, _MH_ROWS_PER_BAND,
                         pair="m.id > r.id",
                         emit=[("doc_b", "m.id"),
                               ("est_jaccard", _MH_EST_JACCARD)])
        .select(F.col("r.id").alias("doc_a"), "pair.doc_b",
                "pair.est_jaccard")
        .filter(F.col("est_jaccard") >= 0.5)
    )


def _simhash_fp_cte() -> str:
    """Shared DuckDB CTE chain computing the per-doc 64-bit SimHash
    (``fp(doc_id, simhash64)``) — replayed verbatim from the Spark
    plan: md5-derived 64 bit votes, ±1 sums, sign packing. Bit 63
    packs via the two's-complement identity 2^63 ≡ INT64_MIN (DuckDB
    refuses the overflowing ``1 << 63``; Spark's Java shift wraps to
    the same value)."""
    votes = ",\n               ".join(
        "SUM(CASE WHEN ({h} & {m}) != 0 THEN 1 ELSE -1 END) AS v{i}".format(
            h="h1" if i < 32 else "h2", m=1 << (i % 32), i=i)
        for i in range(64))
    terms = " + ".join(
        [f"CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(63)]
        + ["CASE WHEN v63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END"])
    return f"""
    tk AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ), hh AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(tok), 1, 8))::UBIGINT AS BIGINT)
                   AS h1,
               CAST(('0x' || substring(md5(tok), 9, 8))::UBIGINT AS BIGINT)
                   AS h2
        FROM tk
    ), votes AS (
        SELECT doc_id,
               {votes}
        FROM hh GROUP BY doc_id
    ), fp AS (
        SELECT doc_id, ({terms}) AS simhash64
        FROM votes
    )"""


@query("simhash_fingerprint", oracle=f"""
    WITH {_simhash_fp_cte()}
    SELECT doc_id, simhash64,
           ((simhash64 >> 48) & 65535) AS band_prefix16
    FROM fp
    """)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document: each token votes its md5-derived
    bit pattern weighted ±1; the sign vector packs into a fingerprint.
    Near-dup = small Hamming distance; here we emit the fingerprint
    plus a 16-bit prefix block useful for banded Hamming search
    (Manku et al., WWW'07). Pure SQL expressions — the 64 bit
    positions unroll into one aggregate expression, no UDF. The bit
    source is the two 32-bit halves of one md5 per token (was crc32:
    same cost at this width, but md5 is DuckDB-expressible, which
    upgrades both SimHash queries from rows-only to oracle-checked)."""
    d = Catalog(spark, sf_dir).documents
    # Explode distinct tokens, hash each ONCE (one md5 → 64 stable
    # bits), then take the 64 bit-votes as vectorized SUM
    # aggregates — the same explode+hash-agg shape as MinHash, fully
    # codegen'd (interpreted array-fold HOFs were ~10× slower).
    toks = (d.select("doc_id", F.explode(F.array_distinct(_tokens())).alias("tok"))
            .withColumn("md5", F.md5("tok"))
            .withColumn("h1", F.conv(F.substring("md5", 1, 8), 16, 10)
                        .cast("long"))
            .withColumn("h2", F.conv(F.substring("md5", 9, 8), 16, 10)
                        .cast("long")))
    # The 64 vote sums and the sign pack as ONE SQL text: the same
    # arithmetic built from Column calls cost several hundred JVM round
    # trips at every build.
    votes = [f"sum(CASE WHEN ({'h1' if i < 32 else 'h2'} & {1 << (i % 32)})"
             " != 0 THEN 1 ELSE -1 END)" for i in range(64)]
    fp = " | ".join(
        f"shiftleft(CASE WHEN {v} > 0 THEN CAST(1 AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END, {i})" for i, v in enumerate(votes))
    return (toks.groupBy("doc_id").agg(F.expr(fp).alias("simhash64"))
            .selectExpr("doc_id", "simhash64",
                        "shiftrightunsigned(simhash64, 48) AS band_prefix16"))


@query(
    "token_count_bpe_regex",
    oracle=r"""
    SELECT doc_id, lang,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT)
               AS n_bpe_tokens,
           CAST(CAST(ceil(n_chars / 4.0) AS BIGINT) AS BIGINT) AS n_tokens_est
    FROM documents
    """,
)
def token_count_bpe_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: a GPT-2-style pre-tokenizer regex
    (letter runs | digit runs | single punctuation) counts the units a
    byte-pair encoder would start from, plus the chars/4 rule-of-thumb
    estimate. The regex stays in RE2-compatible syntax so Spark (Java
    regex) and DuckDB (RE2) agree."""
    d = Catalog(spark, sf_dir).documents
    return d.select(
        "doc_id", "lang",
        F.size(F.expr(r"regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"))
        .alias("n_bpe_tokens"),
        F.ceil(F.col("n_chars") / 4.0).alias("n_tokens_est"),
    )


@query("simhash_neardup_pairs", oracle=f"""
    WITH {_simhash_fp_cte()}, blocks AS (
        SELECT doc_id, simhash64, 0 AS block_id,
               (simhash64 & 65535) AS block_key FROM fp
        UNION ALL
        SELECT doc_id, simhash64, 1,
               ((simhash64 >> 16) & 65535) FROM fp
        UNION ALL
        SELECT doc_id, simhash64, 2,
               ((simhash64 >> 32) & 65535) FROM fp
        UNION ALL
        SELECT doc_id, simhash64, 3,
               ((simhash64 >> 48) & 65535) FROM fp
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash64 AS fa, b.simhash64 AS fb
        FROM blocks a JOIN blocks b
          ON a.block_id = b.block_id AND a.block_key = b.block_key
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= 3
    """)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs via banded Hamming search
    (Manku et al., WWW'07): split each 64-bit fingerprint into 4
    16-bit blocks; any pair within Hamming distance 3 agrees exactly
    on at least one block (pigeonhole), so an equi-join per block
    finds ALL such pairs without a quadratic scan. Candidates are then
    verified with bit_count(xor) <= HAMMING_MAX.

    At 100 TB: 4 equi-joins on 16-bit keys + dedup — bucket sizes are
    bounded by fingerprint entropy, never corpus size.

    This is the one LSH operator that does not pair inside its buckets
    with :func:`_bucket_pairs`: its 16-bit blocks are skewed (at sf0.1
    one block-0 bucket holds 1,639 of 5,000 docs), and on that input
    the interpreted in-list ``filter`` lost to this codegen'd block
    join: 1.65 s for the join against 3.22 s median wall (5 interleaved
    ``noop`` drains, 4 cores), with equal rows (166,267). The join
    already keeps a pair only in its lowest agreeing block, so it needs
    no ``distinct``."""
    HAMMING_MAX = 3
    # NOTE: both self-join sides recompute the fingerprint lineage;
    # persisting it was measured SLOWER in the end-to-end query (cache
    # population sits on the critical path and breaks codegen fusion),
    # so recomputation is deliberate. At 100 TB the answer is a
    # materialized fingerprint table, not an executor cache.
    fps = simhash_fingerprint(spark, sf_dir).select("doc_id", "simhash64")
    blocks = fps.select(
        "doc_id", "simhash64",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("block_id"),
                F.shiftrightunsigned(F.col("simhash64"), 16 * i)
                .bitwiseAND(F.lit(0xFFFF)).alias("block_key"))
            for i in range(4)
        ])).alias("b"),
    ).select("doc_id", "simhash64", "b.block_id", "b.block_key")
    a, b = blocks.alias("a"), blocks.alias("b")
    # Dedup-free candidates (r12, guide §2.3): a pair agreeing on
    # several blocks is emitted ONLY from its lowest agreeing block —
    # the join condition requires every lower block to DISAGREE (its
    # 16-bit xor slice nonzero) — so pairs are unique by construction
    # and the candidate-wide DISTINCT aggregate disappears from the
    # plan. A/B'd identical rows at sf0.1; floors 2.84 → 2.50 s.
    x = F.col("a.simhash64").bitwiseXOR(F.col("b.simhash64"))

    def _disagrees(j: int):
        return F.shiftrightunsigned(x, 16 * j) \
            .bitwiseAND(F.lit(0xFFFF)) != 0

    first_agree = (
        F.when(F.col("a.block_id") == 0, F.lit(True))
        .when(F.col("a.block_id") == 1, _disagrees(0))
        .when(F.col("a.block_id") == 2, _disagrees(0) & _disagrees(1))
        .otherwise(_disagrees(0) & _disagrees(1) & _disagrees(2)))
    cand = (
        a.join(b, (F.col("a.block_id") == F.col("b.block_id"))
               & (F.col("a.block_key") == F.col("b.block_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & first_agree)
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.simhash64").alias("fp_a"),
                F.col("b.simhash64").alias("fp_b"))
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long")
    return (cand.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= HAMMING_MAX)
            .select("doc_a", "doc_b", "hamming"))


# Winnowing parameters, shared by the mapInPandas kernel and its
# DuckDB oracle twin. The polynomial family is PUBLIC module
# constants (SIGMOD'03 uses any fixed rolling hash) — nothing
# engine-private, which is what makes the full-oracle replay below
# possible.
_WINNOW_K = 8
_WINNOW_WIN = 4
_WINNOW_B = 257
_WINNOW_P = 1_000_000_007


def _winnow_oracle_sql(K: int = _WINNOW_K, WIN: int = _WINNOW_WIN,
                       B: int = _WINNOW_B, P: int = _WINNOW_P) -> str:
    """DuckDB replay of the full winnowing pipeline — byte decode,
    k-gram polynomial hashes, and the SIGMOD'03 ROBUST selection rule.

    The robust rule is a genuine per-document recurrence (keep the
    previous selection while it is in-window and unbeaten, else take
    the rightmost minimum), so the oracle walks windows with a
    recursive CTE whose state carries (r, h[r]) — selection position
    AND value — making each step a pure join against the precomputed
    per-window (min, rightmost-argmin) table `v` with no array
    lookback. Pick events are rows where the state changed; the
    fingerprint is the carried value, so no join-back is needed.

    Bytes come from hex(encode(text)) — UTF-8, identical to the
    kernel's ``text.encode("utf-8")`` — and the per-term ``% P``
    keeps every product under 2.6e11, matching the kernel's
    ``(data * powers % P).sum() % P`` arithmetic exactly. Documents
    shorter than K bytes yield no rows; documents with fewer than WIN
    k-grams take the kernel's leftmost-argmin branch (UNION branch —
    vacuous on the shipped corpora, whose shortest text is ~44 bytes;
    exercised with synthetic short docs in
    tests/test_conversion_pins.py)."""
    powlist = ", ".join(str(pow(B, K - 1 - i, P)) for i in range(K))
    return f"""
    WITH RECURSIVE bytes AS MATERIALIZED (
        SELECT doc_id, octet_length(encode(text)) AS nb,
               [16 * (strpos('0123456789ABCDEF', hx[2*i-1]) - 1)
                  + strpos('0123456789ABCDEF', hx[2*i]) - 1
                for i in range(1, octet_length(encode(text)) + 1)] AS b
        FROM (SELECT doc_id, text, hex(encode(text)) AS hx
              FROM documents WHERE text IS NOT NULL)
        WHERE octet_length(encode(text)) >= {K}
    ), hashes AS MATERIALIZED (
        SELECT doc_id, nb - {K} + 1 AS n,
               [CAST(list_sum([b[p + j] * ([{powlist}])[j + 1] % {P}
                               for j in range(0, {K})]) % {P} AS BIGINT)
                for p in range(1, nb - {K} + 2)] AS h
        FROM bytes
    ), v AS MATERIALIZED (
        SELECT doc_id, i,
               list_min(list_slice(h, i + 1, i + {WIN})) AS m,
               i + {WIN} - list_position(
                   list_reverse(list_slice(h, i + 1, i + {WIN})),
                   list_min(list_slice(h, i + 1, i + {WIN}))) AS rm
        FROM (SELECT doc_id, n, h, unnest(range(0, n - {WIN} + 1)) AS i
              FROM hashes WHERE n >= {WIN})
    ), walk AS (
        SELECT doc_id, i, rm AS r, m AS vr, true AS picked
        FROM v WHERE i = 0
        UNION ALL
        SELECT v.doc_id, v.i,
               CASE WHEN w.r < v.i OR w.vr > v.m THEN v.rm ELSE w.r END,
               CASE WHEN w.r < v.i OR w.vr > v.m THEN v.m ELSE w.vr END,
               (w.r < v.i OR w.vr > v.m)
        FROM walk w JOIN v ON v.doc_id = w.doc_id AND v.i = w.i + 1
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(vr AS BIGINT) AS fingerprint,
           CAST(r AS INTEGER) AS position
    FROM walk WHERE picked
    UNION ALL
    SELECT CAST(doc_id AS BIGINT),
           CAST(h[list_position(h, list_min(h))] AS BIGINT),
           CAST(list_position(h, list_min(h)) - 1 AS INTEGER)
    FROM hashes WHERE n >= 1 AND n < {WIN}
    ORDER BY doc_id, position
    """


def _winnow_kernel(K: int = _WINNOW_K, WIN: int = _WINNOW_WIN,
                   B: int = _WINNOW_B,
                   P: int = _WINNOW_P, CHUNK: int = 1 << 16):
    """Build the winnowing mapInPandas kernel (hoisted to module level
    so tests/test_neardup_quality.py can drive it locally — the
    SIGMOD'03 guarantees are pinned there, no Spark needed)."""
    import numpy as np

    powers = np.array([pow(B, K - 1 - i, P) for i in range(K)], dtype=np.int64)

    def kgram_hashes(data: "np.ndarray") -> "np.ndarray":
        n_win = len(data) - K + 1
        parts = []
        for s in range(0, n_win, CHUNK):
            e = min(s + CHUNK, n_win)
            idx = np.arange(s, e)[:, None] + np.arange(K)[None, :]
            parts.append((data[idx] * powers[None, :] % P).sum(axis=1) % P)
        return np.concatenate(parts)

    def winnow(batches):
        for pdf in batches:
            out = {"doc_id": [], "fingerprint": [], "position": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = np.frombuffer(text.encode("utf-8"),
                                     dtype=np.uint8).astype(np.int64)
                if len(data) < K:
                    continue
                hashes = kgram_hashes(data)
                if len(hashes) < WIN:
                    picks = [int(hashes.argmin())]
                else:
                    # Robust winnowing (the paper's stateful rule): keep
                    # the previous selection while it stays in-window and
                    # is not strictly beaten; otherwise select the
                    # RIGHTMOST minimum of the current window. An
                    # equal-hash run thus yields ~1 pick per WIN windows,
                    # not one per position — fingerprint density stays
                    # ~2/(WIN+1) even on boilerplate text. Per-window min
                    # and rightmost-argmin are precomputed VECTORIZED in
                    # the same bounded CHUNKs as the hash pass (the old
                    # loop ran one numpy min() call per byte position —
                    # ~4 µs/byte, the dominant cost of the whole query
                    # at sf0.1; guide §4.2); the remaining walk is
                    # pure-scalar list reads carrying the identical
                    # recurrence, with (r, h[r]) as explicit state so a
                    # chunk never needs values outside itself.
                    swv = np.lib.stride_tricks.sliding_window_view
                    picks = []
                    r, vr = -1, 0  # current selection: position, value
                    n_win = len(hashes) - WIN + 1
                    for s in range(0, n_win, CHUNK):
                        e = min(s + CHUNK, n_win)
                        sw = swv(hashes[s:e + WIN - 1], WIN)
                        mins = sw.min(axis=1).tolist()
                        # rightmost argmin: first argmin of the reversed
                        # window, mirrored — the w[::-1].argmin() tie rule
                        rms = (s + np.arange(e - s, dtype=np.int64)
                               + (WIN - 1)
                               - np.argmin(sw[:, ::-1], axis=1)).tolist()
                        for k, m in enumerate(mins):
                            if r < s + k or vr > m:
                                r = rms[k]
                                vr = int(hashes[r])
                                picks.append(r)
                for pos in picks:
                    out["doc_id"].append(doc_id)
                    out["fingerprint"].append(int(hashes[pos]))
                    out["position"].append(pos)
            yield pd.DataFrame(out)

    return winnow


@query("doc_winnowing_fingerprints", oracle=_winnow_oracle_sql())
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer,
    Wilkerson, Aiken — MOSS, SIGMOD'03): polynomial hashes over k-byte
    windows, then the minimum hash in each w-window of consecutive
    hashes is kept — *rightmost* on ties, per the paper's robust rule,
    so runs of equal hashes (boilerplate text) select one fingerprint
    per run instead of one per position. Any shared substring of
    length >= k+w-1 still contributes a shared fingerprint.

    The per-document recurrence is genuinely non-relational, so this
    is mapInPandas: numpy evaluation in bounded CHUNKs (memory stays
    O(chunk·k) per document regardless of document size — a 50 MB doc
    must not allocate 50M×k temporaries at once). NULL texts are
    filtered Spark-side, matching the null-propagation of the column-
    expression operators in this module. Output is (doc_id,
    fingerprint, position); a near-dup pass joins on fingerprint.

    Formerly rows-only ("rolling-hash family is engine-private") —
    but the polynomial family is public module constants
    (``_WINNOW_B``/``_WINNOW_P``), and the only genuinely stateful
    part, the robust selection rule, is a linear recurrence a
    recursive CTE can walk. :func:`_winnow_oracle_sql` replays the
    ENTIRE pipeline in DuckDB — UTF-8 byte decode, k-gram polynomial
    hashes, per-window rightmost-argmin, and the (r, h[r])-carrying
    window walk — so the exact fingerprint set, positions included,
    is hash-pinned. The kernel itself is unchanged."""
    winnow = _winnow_kernel()

    d = (Catalog(spark, sf_dir).documents
         .filter(F.col("text").isNotNull())
         .select("doc_id", "text"))
    # The kernel's per-row cost dwarfs its bytes (same rationale as
    # setsim_prefix_join's explicit repartitions): a byte-small corpus
    # arrives as ONE input split, serializing the whole winnowing pass
    # onto one task. Spread it across the cores only when the scan is
    # actually starved — at scale the input arrives as many splits and
    # this branch never fires, so no corpus-wide text shuffle is added.
    n_par = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < n_par:
        d = d.repartition(n_par, "doc_id")
    return d.mapInPandas(winnow, schema="doc_id long, fingerprint long, position int")


@query(
    "clean_corpus_pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, source, text, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM documents
    ), quality AS (
        SELECT * FROM toks
        WHERE n_tokens >= 20
          AND CAST(n_distinct AS DOUBLE) / n_tokens > 0.15
    ), exact_kept AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                         ORDER BY doc_id) AS rn
            FROM quality
        ) WHERE rn = 1
    ), grams AS (
        SELECT doc_id, source, unnest(list_distinct(g)) AS gram,
               len(list_distinct(g)) AS n_grams
        FROM (
            SELECT doc_id, source,
                   list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 1),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i + 1]) AS g
            FROM exact_kept
        )
    ), neardup_losers AS (
        SELECT DISTINCT b.doc_id
        FROM grams a JOIN grams b
          ON a.source = b.source AND a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE)
               / (any_value(a.n_grams) + any_value(b.n_grams) - COUNT(*)) >= 0.5
    ), survivors AS (
        SELECT * FROM exact_kept
        WHERE doc_id NOT IN (SELECT doc_id FROM neardup_losers)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM survivors GROUP BY lang
    """,
)
def clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end to end in one plan:

    1. quality gate (length + repetition filters — C4-style),
    2. exact dedup on content hash (keep lowest doc_id),
    3. near-dup removal by word-bigram Jaccard >= 0.5 within source
       (keep the lower doc_id of each pair),
    4. clean-corpus statistics per language.

    Each stage consumes the previous DataFrame — Catalyst fuses the
    whole thing into one optimized plan; no intermediate
    materialization. This is the query shape a 100 TB curation run
    executes, with MinHash banding substituted for the exact Jaccard
    stage (same pipeline topology).
    """
    d = Catalog(spark, sf_dir).documents
    toks = _tokens()
    n_tok = F.size(toks)
    quality = (
        d.withColumn("n_tokens", n_tok)
        .withColumn("n_distinct", F.size(F.array_distinct(toks)))
        .filter((F.col("n_tokens") >= 20)
                & (F.col("n_distinct").cast("double") / F.col("n_tokens") > 0.15))
    )
    w = W.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    exact_kept = (quality.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1).drop("rn"))

    g = (_word_bigrams(exact_kept, "source")
         .withColumn("n_grams", F.count(F.lit(1)).over(W.partitionBy("doc_id"))))
    a, b = g.alias("a"), g.alias("b")
    losers = (
        a.join(b, (F.col("a.source") == F.col("b.source"))
               & (F.col("a.gram") == F.col("b.gram"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("inter"),
             F.first("a.n_grams").alias("na"), F.first("b.n_grams").alias("nb"))
        .filter(F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")) >= 0.5)
        .select("doc_id").distinct()
    )
    survivors = exact_kept.join(losers, "doc_id", "left_anti")
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@query(
    "heavy_hitter_tokens",
    oracle="""
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 25
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters: top-25 tokens by occurrence with
    document frequency. Explode + count is two shuffles (token agg,
    then TakeOrdered top-k on the driver-bound 25); at 100 TB the
    partial aggregation absorbs the token zipf-skew map-side, so the
    shuffle carries one row per (partition, distinct token) — this is
    the exact pass; a count-min/``freqItems`` sketch would be the
    single-pass approximate variant when the vocabulary itself doesn't
    fit."""
    d = Catalog(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(25)
    )


@query(
    "doc_chunk_windows",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), idx AS (
        SELECT doc_id, ts,
               unnest(generate_series(
                   0, CAST(ceil(len(ts) / 32.0) AS BIGINT) - 1)) AS i
        FROM toks
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           CAST(len(ts[i * 32 + 1 : i * 32 + 32]) AS INT) AS n_chunk_tokens,
           array_to_string(ts[i * 32 + 1 : i * 32 + 32], ' ') AS chunk_text
    FROM idx
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into fixed
    32-token windows (the pre-tokenizer pass that turns a corpus into
    training sequences). One explode over a per-doc index sequence +
    array slices — no shuffle at all until someone aggregates; the
    chunk count per row is bounded by doc length, so task skew follows
    document length (at 100 TB, pair with a length-aware repartition
    or let AQE split the stragglers)."""
    d = Catalog(spark, sf_dir).documents
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(32.0)).cast("long")
    return (
        d.select("doc_id", toks.alias("ts"),
                 F.explode(F.sequence(F.lit(0).cast("long"),
                                      n_chunks - 1)).alias("chunk_idx"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int"),
            F.size(F.slice(F.col("ts"),
                           (F.col("chunk_idx") * 32 + 1).cast("int"), 32))
            .alias("n_chunk_tokens"),
            F.array_join(F.slice(F.col("ts"),
                                 (F.col("chunk_idx") * 32 + 1).cast("int"), 32),
                         " ").alias("chunk_text"))
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), stats AS (
        SELECT lang, token,
               CAST(COUNT(*) AS BIGINT) AS tf,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tok GROUP BY lang, token
    ), nd AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ), scored AS (
        SELECT s.lang, token, tf, df,
               CAST(tf * n_docs AS DOUBLE) / df AS score,
               ROW_NUMBER() OVER (PARTITION BY s.lang
                                  ORDER BY CAST(tf * n_docs AS DOUBLE) / df DESC,
                                           token) AS rn
        FROM stats s JOIN nd ON s.lang = nd.lang
    )
    SELECT lang, token, tf, df, score
    FROM scored WHERE rn <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style term ranking per language, libm-free: the rank
    order of tf * log(N/df) equals the rank order of tf * N / df at
    fixed tf monotonicity needs only the rational score, so the score
    is one exact-integer product divided once (a single deterministic
    double op — bit-identical across engines), never a transcendental.
    Explode → two-level aggregate → broadcast-join the per-lang doc
    count → windowed top-5. The token stats shuffle carries one row
    per distinct (lang, token), not per occurrence; the per-lang doc
    count comes straight off the documents table (one row per doc),
    never re-exploding the corpus."""
    from pyspark.sql import Window as W
    d = Catalog(spark, sf_dir).documents
    tok = d.select("doc_id", "lang",
                   F.explode(F.split(F.col("text"), " ")).alias("token"))
    stats = (tok.groupBy("lang", "token")
             .agg(F.count(F.lit(1)).alias("tf"),
                  F.countDistinct("doc_id").alias("df")))
    nd = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    score = (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
    w = W.partitionBy("lang").orderBy(F.col("score").desc(), "token")
    return (
        stats.join(F.broadcast(nd), "lang")
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "token", "tf", "df", "score")
    )


@query(
    "intra_doc_repetition",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1])) AS gram
        FROM documents
    ), c AS (
        SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS total_bigrams,
           CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
           CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt)
               AS dup_bigram_fraction,
           CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_bigram_fraction
    FROM c GROUP BY doc_id
    """,
)
def intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality
    filters): the fraction of word-bigram occurrences that are
    repeats, and the share taken by the single most frequent bigram.
    Boilerplate, SEO spam, and degenerate generations light up both.

    Two hash aggregations, zero joins: explode bigrams (non-distinct,
    unlike the dedup family's shingles), count per (doc, gram), then
    roll up per doc. Both aggs partition by doc_id, so AQE coalesces
    them onto one exchange; per-doc state is bounded by document
    length, independent of corpus size. Ratios divide exact integer
    counts — deterministic vs the oracle. Docs with < 2 tokens have
    no bigrams and drop out (matching generate_series(1, 0) = []).
    """
    d = Catalog(spark, sf_dir).documents
    toks = d.select("doc_id", F.posexplode(_tokens()).alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("gram"))
    )
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    total = F.sum("cnt")
    distinct = F.count(F.lit(1))
    return per_gram.groupBy("doc_id").agg(
        total.alias("total_bigrams"),
        distinct.alias("distinct_bigrams"),
        ((total - distinct).cast("double") / total).alias("dup_bigram_fraction"),
        (F.max("cnt").cast("double") / total).alias("top_bigram_fraction"),
    )


@query(
    "lang_id_confusion",
    oracle="""
    WITH pred AS (
        SELECT lang,
               CASE
                 WHEN len(list_filter(string_split(text, ' '),
                                      t -> t IN ('stream', 'batch', 'window'))) >
                      len(list_filter(string_split(text, ' '),
                                      t -> t IN ('table', 'row', 'column')))
                 THEN 'streamish' ELSE 'tablish'
               END AS lang_guess
        FROM documents
    )
    SELECT lang AS lang_true, lang_guess,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY lang, lang_guess
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix between the declared language label and the
    dictionary-vote classifier of ``lang_id_heuristic`` — the
    label-vs-model agreement audit run before trusting either side
    for mixture decisions. Per-row classification is codegen'd column
    expressions; the matrix is one low-cardinality aggregation whose
    map-side combine collapses everything before the shuffle."""
    d = Catalog(spark, sf_dir).documents
    streamish = F.array(F.lit("stream"), F.lit("batch"), F.lit("window"))
    tablish = F.array(F.lit("table"), F.lit("row"), F.lit("column"))
    n_s = F.size(F.filter(_tokens(), lambda t: F.array_contains(streamish, t)))
    n_t = F.size(F.filter(_tokens(), lambda t: F.array_contains(tablish, t)))
    return (
        d.select(F.col("lang").alias("lang_true"),
                 F.when(n_s > n_t, "streamish").otherwise("tablish")
                 .alias("lang_guess"))
        .groupBy("lang_true", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "bigram_corpus_freq_score",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i + 1])) AS gram
        FROM documents
    ), cf AS (
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS corpus_freq
        FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(cf.corpus_freq) AS BIGINT) AS total_freq,
           CAST(CAST(SUM(cf.corpus_freq) AS BIGINT) AS DOUBLE) / COUNT(*)
               AS avg_bigram_freq
    FROM g JOIN cf ON g.gram = cf.gram
    GROUP BY g.doc_id
    """,
)
def bigram_corpus_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-free fluency proxy: the mean corpus frequency of a
    document's word bigrams. Documents whose bigrams are common in
    the corpus read like the corpus; gibberish and boilerplate-free
    spam score low. (The log-probability version of this is an n-gram
    LM score; summing raw counts keeps every aggregate an exact
    integer — libm log is not cross-engine reproducible.)

    Plan: ONE scan and ONE explode — the corpus frequency is a count
    window partitioned by gram over the same bigram stream (no
    agg-then-self-join, which would explode the corpus twice; Spark
    does not share unpersisted subtrees). Three exchanges total:
    doc_id (shingle window), gram (frequency window), doc_id (final
    agg). Skew follows hot bigrams either way; the window form moves
    strictly less data than the join form at the same skew. Division
    of two exact integers at the end — deterministic.
    """
    d = Catalog(spark, sf_dir).documents
    toks = d.select("doc_id", F.posexplode(_tokens()).alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    g = (toks.withColumn("nxt", F.lead("tok").over(w))
         .filter(F.col("nxt").isNotNull())
         .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("gram")))
    gf = g.withColumn("corpus_freq",
                      F.count(F.lit(1)).over(W.partitionBy("gram")))
    return (
        gf.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("corpus_freq").alias("total_freq"),
             (F.sum("corpus_freq").cast("double") / F.count(F.lit(1)))
             .alias("avg_bigram_freq"))
    )


@query(
    "dup_ngram_span_stats",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS a,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), g AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(n_tokens - 4, 0)),
                   i -> struct_pack(pos := i,
                                    gram := a[i] || ' ' || a[i+1] || ' '
                                         || a[i+2] || ' ' || a[i+3] || ' '
                                         || a[i+4]))) AS s
        FROM base
    ), gg AS (
        SELECT doc_id, s.pos AS pos, s.gram AS gram FROM g
    ), freq AS (
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS cf FROM gg GROUP BY gram
    ), cov AS (
        SELECT gg.doc_id, gg.pos,
               unnest(generate_series(gg.pos, gg.pos + 4)) AS cpos
        FROM gg JOIN freq USING (gram) WHERE freq.cf >= 2
    ), stats AS (
        SELECT doc_id,
               CAST(COUNT(DISTINCT pos) AS BIGINT) AS n_dup_grams,
               CAST(COUNT(DISTINCT cpos) AS BIGINT) AS n_covered_tokens
        FROM cov GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(greatest(b.n_tokens - 4, 0) AS BIGINT) AS n_grams,
           COALESCE(s.n_dup_grams, 0) AS n_dup_grams,
           COALESCE(s.n_covered_tokens, 0) AS n_covered_tokens,
           CAST(COALESCE(s.n_covered_tokens, 0) AS DOUBLE) / b.n_tokens
               AS dup_token_fraction
    FROM base b LEFT JOIN stats s USING (doc_id)
    """,
)
def dup_ngram_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring census, the exact-substring-dedup signal
    from "Deduplicating Training Data Makes Language Models Better"
    (Lee et al. 2022) re-expressed relationally: a 5-token window is
    "duplicated" when its exact text occurs >= 2 times anywhere in
    the corpus (other documents OR a repeat inside the same one), and
    a token is "covered" when any duplicated window contains it. Per
    document: window counts and the covered-token fraction — the
    number a curation pipeline thresholds on to drop or trim
    boilerplate-heavy documents.

    Scale shape, all codegen'd: ONE token explode -> 5-gram windows
    via lead (doc_id exchange) -> corpus frequency as a count window
    partitioned by the gram itself (gram exchange; same
    single-explode trick as bigram_corpus_freq_score) -> duplicated
    windows explode into at most 5 covered positions each ->
    two-distinct aggregate per doc. Shuffled rows are (doc_id, pos,
    gram) — never whole documents — and the covered-position explode
    is bounded by 5x the duplicated-window count, not corpus size. At
    100 TB the gram string would be xxhash64'd to 8 bytes before the
    frequency exchange (collisions only overcount duplication
    harmlessly); kept as text here so the DuckDB oracle is exact.
    All outputs are exact integers plus one final integer division.
    """
    d = Catalog(spark, sf_dir).documents
    base = d.select("doc_id", F.size(_tokens()).alias("n_tokens"))
    toks = d.select("doc_id", F.posexplode(_tokens()).alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, 5)]
    g = (toks.select("doc_id", "pos", F.concat_ws(" ", *parts).alias("gram"),
                     F.lead("tok", 4).over(w).alias("_tail"))
         .filter(F.col("_tail").isNotNull())
         .drop("_tail"))
    gf = g.withColumn("cf", F.count(F.lit(1)).over(W.partitionBy("gram")))
    cov = (gf.filter(F.col("cf") >= 2)
           .select("doc_id", "pos",
                   F.explode(F.sequence(F.col("pos"), F.col("pos") + 4))
                   .alias("cpos")))
    stats = cov.groupBy("doc_id").agg(
        F.countDistinct("pos").alias("n_dup_grams"),
        F.countDistinct("cpos").alias("n_covered_tokens"))
    return (
        base.join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.greatest(F.col("n_tokens") - 4, F.lit(0)).cast("long")
            .alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long")
            .alias("n_dup_grams"),
            F.coalesce("n_covered_tokens", F.lit(0)).cast("long")
            .alias("n_covered_tokens"),
            (F.coalesce("n_covered_tokens", F.lit(0)).cast("double")
             / F.col("n_tokens")).alias("dup_token_fraction"),
        )
    )


@query(
    "source_overlap_matrix",
    oracle="""
    WITH base AS (
        SELECT source, string_split(text, ' ') AS a,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), h AS (
        SELECT DISTINCT source,
               unnest(list_transform(
                   generate_series(1, greatest(n_tokens - 4, 0)),
                   i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' '
                     || a[i+3] || ' ' || a[i+4])) AS gram
        FROM base
    ), n AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM h GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           any_value(na.n_grams) AS n_a, any_value(nb.n_grams) AS n_b,
           CAST(COUNT(*) AS DOUBLE) / least(any_value(na.n_grams),
                                            any_value(nb.n_grams))
               AS overlap_coeff
    FROM h a JOIN h b ON a.gram = b.gram AND a.source < b.source
    JOIN n na ON na.source = a.source
    JOIN n nb ON nb.source = b.source
    GROUP BY a.source, b.source
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix over 5-token shingle sets:
    for every pair of sources, how many distinct 5-grams both contain
    and the overlap coefficient |A∩B| / min(|A|,|B|) — the audit a
    curation pipeline runs before mixing crawls, to find mirrored
    sites and wholesale re-hosting (overlap ~1 means one source's
    shingle vocabulary is contained in the other's). Shingles, not
    whole-document hashes, so lightly-edited re-hosting still
    registers — exact-hash overlap is the degenerate special case and
    is often empty on clean corpora.

    Scale shape — NO self-join: grams group once (collect_set dedups
    sources in the partial aggregate, so the exchange on gram carries
    each (gram, source) at most once per map partition), then each
    gram's sorted source list explodes into its i<j source *pairs*
    directly. The per-gram pair fan-out is bounded by
    sources-choose-2 — a function of the source count (typically
    < 100), never the corpus — and the pair shuffle map-side-combines
    down to at most sources-choose-2 keys. The self-join alternative
    evaluates the shingle subtree four times and shuffles the whole
    (source, gram) table twice; this form evaluates it twice (once
    for pairs, once for per-source sizes — Spark shares no
    unpersisted subtrees) and shuffles pairs only. At 100 TB the gram
    would be xxhash64'd to 8 bytes before the exchange (kept as text
    here so the oracle is exact). Final division is exact-int /
    exact-int.
    """
    d = Catalog(spark, sf_dir).documents
    toks = d.select("source", "doc_id",
                    F.posexplode(_tokens()).alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, 5)]
    grams = (toks.select("source", F.concat_ws(" ", *parts).alias("gram"),
                         F.lead("tok", 4).over(w).alias("_tail"))
             .filter(F.col("_tail").isNotNull())
             .select("source", "gram"))
    per_gram = grams.groupBy("gram").agg(
        F.sort_array(F.collect_set("source")).alias("ss"))
    pair_arr = F.flatten(F.transform(
        "ss",
        lambda x, i: F.transform(
            F.slice("ss", i + 2, F.size("ss")),
            lambda y: F.struct(x.alias("source_a"), y.alias("source_b")))))
    pairs = (per_gram.select(F.explode(pair_arr).alias("p"))
             .select("p.source_a", "p.source_b")
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).alias("n_shared")))
    h = grams.distinct()
    n = h.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    na = n.select(F.col("source").alias("source_a"), F.col("n_grams").alias("n_a"))
    nb = n.select(F.col("source").alias("source_b"), F.col("n_grams").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "source_a").join(F.broadcast(nb), "source_b")
        .select("source_a", "source_b", "n_shared", "n_a", "n_b",
                (F.col("n_shared").cast("double")
                 / F.least("n_a", "n_b")).alias("overlap_coeff"))
    )


@query(
    "length_band_filter_per_lang",
    oracle="""
    WITH counts AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL
    ), ranked AS (
        SELECT doc_id, lang, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY n_tokens, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM counts
    ), bounds AS (
        SELECT lang,
               MAX(CASE WHEN rn = CAST(ceil(0.10 * n) AS BIGINT)
                        THEN n_tokens END) AS p10,
               MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT)
                        THEN n_tokens END) AS p90
        FROM ranked GROUP BY lang
    )
    SELECT c.doc_id, c.lang, c.n_tokens, b.p10, b.p90
    FROM counts c JOIN bounds b USING (lang)
    WHERE c.n_tokens >= b.p10 AND c.n_tokens <= b.p90
    """,
)
def length_band_filter_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length gate: keep documents whose token count
    lies inside the [p10, p90] nearest-rank band of their language's
    length distribution — the C4/Gopher-style outlier filter (too
    short = fragments/boilerplate, too long = concatenation junk),
    banded per language because length distributions differ by
    language. Nearest-rank percentiles on integer counts (rank
    ceil(q*N) under (n_tokens, doc_id) order) are exactly
    reproducible on any engine — no interpolation, no floats until
    nothing is left to diverge.

    Two passes, as any exact-percentile gate must be: (1) rank pass —
    one exchange on lang (window), collapsing to one (p10, p90) row
    per language; (2) filter pass — the per-lang bounds BROADCAST
    back onto a fresh scan and the band predicate filters at scan
    level. The ranked pass shuffles only (doc_id, lang, n_tokens),
    never text. Same skeleton as winsorize_event_values, but a
    row-dropping curation gate over documents rather than a clip.
    A document with no text has no length — excluded on both engines
    (left in, its NULL count shifts the two engines' rank picks to
    opposite sort ends; null_sweep audit).
    """
    d = Catalog(spark, sf_dir).documents.filter(
        F.col("text").isNotNull())
    counts = d.select("doc_id", "lang",
                      F.size(_tokens()).cast("long").alias("n_tokens"))
    wr = W.partitionBy("lang").orderBy("n_tokens", "doc_id")
    wn = W.partitionBy("lang")
    ranked = (counts
              .withColumn("rn", F.row_number().over(wr))
              .withColumn("n", F.count(F.lit(1)).over(wn)))
    bounds = ranked.groupBy("lang").agg(
        F.max(F.when(F.col("rn") == F.ceil(0.10 * F.col("n")),
                     F.col("n_tokens"))).alias("p10"),
        F.max(F.when(F.col("rn") == F.ceil(0.90 * F.col("n")),
                     F.col("n_tokens"))).alias("p90"))
    return (counts.join(F.broadcast(bounds), "lang")
            .filter((F.col("n_tokens") >= F.col("p10"))
                    & (F.col("n_tokens") <= F.col("p90")))
            .select("doc_id", "lang", "n_tokens", "p10", "p90"))


@query(
    "curation_gate_report",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, string_split(text, ' ') AS a,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               md5(lower(text)) AS content_hash
        FROM documents WHERE text IS NOT NULL
    ), dup_rank AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY content_hash
                                  ORDER BY doc_id) AS hash_rank
        FROM base
    ), g AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(n_tokens - 4, 0)),
                   i -> struct_pack(pos := i,
                                    gram := a[i] || ' ' || a[i+1] || ' '
                                         || a[i+2] || ' ' || a[i+3] || ' '
                                         || a[i+4]))) AS s
        FROM base
    ), gg AS (
        SELECT doc_id, s.pos AS pos, s.gram AS gram FROM g
    ), freq AS (
        SELECT gram, COUNT(*) AS cf FROM gg GROUP BY gram
    ), cov AS (
        SELECT gg.doc_id,
               unnest(generate_series(gg.pos, gg.pos + 4)) AS cpos
        FROM gg JOIN freq USING (gram) WHERE freq.cf >= 2
    ), covered AS (
        SELECT doc_id, CAST(COUNT(DISTINCT cpos) AS BIGINT) AS n_covered
        FROM cov GROUP BY doc_id
    ), ranked AS (
        SELECT doc_id, lang, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY n_tokens, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM base
    ), bounds AS (
        SELECT lang,
               MAX(CASE WHEN rn = CAST(ceil(0.10 * n) AS BIGINT)
                        THEN n_tokens END) AS p10,
               MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT)
                        THEN n_tokens END) AS p90
        FROM ranked GROUP BY lang
    )
    SELECT b.doc_id, b.lang, b.n_tokens,
           CAST(CASE WHEN d.hash_rank > 1 THEN 1 ELSE 0 END AS BIGINT)
               AS flag_exact_dup,
           CAST(CASE WHEN COALESCE(c.n_covered, 0) * 2 > b.n_tokens
                     THEN 1 ELSE 0 END AS BIGINT) AS flag_dup_heavy,
           CAST(CASE WHEN b.n_tokens < bo.p10 THEN 1 ELSE 0 END AS BIGINT)
               AS flag_too_short,
           CAST(CASE WHEN b.n_tokens > bo.p90 THEN 1 ELSE 0 END AS BIGINT)
               AS flag_too_long,
           CAST(CASE WHEN d.hash_rank = 1
                      AND COALESCE(c.n_covered, 0) * 2 <= b.n_tokens
                      AND b.n_tokens >= bo.p10 AND b.n_tokens <= bo.p90
                     THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM base b
    JOIN dup_rank d USING (doc_id)
    LEFT JOIN covered c USING (doc_id)
    JOIN bounds bo ON bo.lang = b.lang
    """,
)
def curation_gate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation gate — one row per document with every
    drop reason and the final keep decision: exact-duplicate loser
    (not the lowest doc_id for its content hash), duplicated-5-gram
    coverage over half the tokens (``dup_ngram_span_stats``
    threshold), and the per-language [p10, p90] length band
    (``length_band_filter_per_lang``). This is the report a pipeline
    operator reads before committing a corpus snapshot: not just
    what survived, but why each casualty fell.

    All three signals are the already-audited shapes: hash-rank
    window (shuffles 32-byte digests), gram-frequency count window +
    bounded covered-position explode, and the rank-window length
    bounds broadcast per language. The dup-heavy threshold compares
    2*n_covered > n_tokens in integers — no division, no floats
    anywhere in the decision. Flags are emitted per reason so the
    downstream mix planner can weigh causes (e.g. re-admit dup-heavy
    docs when the duplication is a shared license header).

    Documents with no text are excluded on both engines: they have
    no length for the band, and their NULL content hash would group
    every missing-text doc into one phantom duplicate cluster
    (null_sweep audit).
    """
    d = Catalog(spark, sf_dir).documents.filter(
        F.col("text").isNotNull())
    base = d.select("doc_id", "lang",
                    F.size(_tokens()).cast("long").alias("n_tokens"),
                    F.md5(F.lower(F.col("text"))).alias("content_hash"))
    dup_rank = base.select(
        "doc_id",
        F.row_number().over(
            W.partitionBy("content_hash").orderBy("doc_id")).alias("hash_rank"))
    toks = d.select("doc_id", F.posexplode(_tokens()).alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, 5)]
    gg = (toks.select("doc_id", "pos", F.concat_ws(" ", *parts).alias("gram"),
                      F.lead("tok", 4).over(w).alias("_tail"))
          .filter(F.col("_tail").isNotNull())
          .drop("_tail"))
    gf = gg.withColumn("cf", F.count(F.lit(1)).over(W.partitionBy("gram")))
    covered = (gf.filter(F.col("cf") >= 2)
               .select("doc_id",
                       F.explode(F.sequence(F.col("pos"), F.col("pos") + 4))
                       .alias("cpos"))
               .groupBy("doc_id")
               .agg(F.countDistinct("cpos").alias("n_covered")))
    wr = W.partitionBy("lang").orderBy("n_tokens", "doc_id")
    wn = W.partitionBy("lang")
    ranked = (base
              .withColumn("rn", F.row_number().over(wr))
              .withColumn("n", F.count(F.lit(1)).over(wn)))
    bounds = ranked.groupBy("lang").agg(
        F.max(F.when(F.col("rn") == F.ceil(0.10 * F.col("n")),
                     F.col("n_tokens"))).alias("p10"),
        F.max(F.when(F.col("rn") == F.ceil(0.90 * F.col("n")),
                     F.col("n_tokens"))).alias("p90"))
    ncov = F.coalesce(F.col("n_covered"), F.lit(0))
    in_band = (F.col("n_tokens") >= F.col("p10")) \
        & (F.col("n_tokens") <= F.col("p90"))
    return (
        base.join(dup_rank, "doc_id")
        .join(covered, "doc_id", "left")
        .join(F.broadcast(bounds), "lang")
        .select(
            "doc_id", "lang", "n_tokens",
            (F.col("hash_rank") > 1).cast("long").alias("flag_exact_dup"),
            (ncov * 2 > F.col("n_tokens")).cast("long").alias("flag_dup_heavy"),
            (F.col("n_tokens") < F.col("p10")).cast("long")
            .alias("flag_too_short"),
            (F.col("n_tokens") > F.col("p90")).cast("long")
            .alias("flag_too_long"),
            ((F.col("hash_rank") == 1) & (ncov * 2 <= F.col("n_tokens"))
             & in_band).cast("long").alias("kept"),
        )
    )


@query(
    "setsim_prefix_join",
    oracle="""
    WITH grams AS (
        SELECT doc_id, unnest(list_distinct(g)) AS gram,
               len(list_distinct(g)) AS n_grams
        FROM (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 1),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i + 1]) AS g
            FROM documents
        )
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST(COUNT(*) AS DOUBLE)
               / (any_value(a.n_grams) + any_value(b.n_grams) - COUNT(*))
               AS jaccard
    FROM grams a JOIN grams b
      ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING CAST(COUNT(*) AS DOUBLE)
               / (any_value(a.n_grams) + any_value(b.n_grams) - COUNT(*))
               >= 0.8
    """,
)
def setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global set-similarity join (bigram Jaccard >= 0.8, the
    near-dup threshold of Lee et al. 2022) via prefix + positional
    filtering — the AllPairs/PPJoin candidate generation (Bayardo et
    al. 2007; Xiao et al. 2008) on DataFrames.

    Unlike ``ngram_jaccard_neardup``, which bounds its inverted-index
    join with a partitioning attribute (``source``), this operator
    finds near-dup pairs across the WHOLE corpus with no bucketing
    column, and is still exact: two documents with Jaccard >= t must
    share at least one gram inside each other's first
    ``|d| - ceil(t*|d|) + 1`` grams when both gram lists are sorted
    in a common global order (rarest-first, so prefixes hold the
    least-shared grams). Three lossless pruning layers, measured on
    the adversarially dense shared-vocabulary corpus at sf0.1
    (5k docs, 931-gram vocabulary, 12.5M possible pairs):
    prefix equi-join + Jaccard length filter ``t*|a|<=|b|<=|a|/t``
    -> 1.4M candidate groups; the PPJoin positional filter
    (overlap upper bound ``1 + min(|a|-pos_a, |b|-pos_b)`` from the
    first prefix match must reach ``ceil(t/(1+t)*(|a|+|b|))``)
    -> 663k; verification confirms the 256 true pairs.

    Verification never re-explodes: candidates join to per-doc gram
    ARRAYS and intersect JVM-side (``array_intersect``) — one row per
    candidate, so the verify cost is candidate-bounded (two ~50-
    element arrays per row), not an inverted-index re-join of
    candidates x grams. Scale shape end to end: one explode for
    shingling, vocabulary-sized df aggregate, per-doc window rank for
    prefixes, one equi-join on prefix grams, two candidate-keyed
    joins for verification. No global sort, no cross product.
    The oracle runs the plain exact all-pairs join: pruning is
    lossless, so both sides produce identical rows.
    """
    d = Catalog(spark, sf_dir).documents
    t = 0.8
    # NOT checkpointed (measured r11): the initial plan shows 12
    # documents scans, but the heavy repeated subtrees sit under
    # identical exchanges that AQE's runtime ReusedExchange dedupes —
    # an explicit localCheckpoint A/B'd ~0.8 s SLOWER at sf0.1.
    g0 = _word_bigrams(d)
    # 64-bit gram keys (VERDICT r11 item 2): the df aggregate and the
    # prefix self-join run on xxhash64(gram) ints instead of ~20-byte
    # gram strings (guide §2.3, narrower shuffle keys; no global
    # vocabulary window needed). Candidate generation stays LOSSLESS:
    # equal grams always hash equal, so a hash collision can only ADD
    # a candidate pair — and verification is an exact string-array
    # intersect, so the emitted rows cannot change. The prefix ORDER
    # stays keyed on (df, gram) — the string tiebreak keeps the global
    # gram order collision-proof and deterministic.
    gk = g0.withColumn("gk", F.xxhash64("gram"))
    df_tbl = gk.groupBy("gk").agg(F.count(F.lit(1)).alias("df"))
    # n and pos share ONE doc_id exchange: both window specs hash-
    # partition on doc_id, so Catalyst chains them on a single
    # shuffle after the df join (a separate n-window before the join
    # would add a full extra shuffle of the gram rows).
    ranked = (gk.join(df_tbl, "gk")
              .withColumn("n", F.count(F.lit(1)).over(
                  W.partitionBy("doc_id")))
              .withColumn("pos", F.row_number().over(
                  W.partitionBy("doc_id").orderBy("df", "gram"))))
    prefix_len = F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
    # Explicit gram-keyed repartition: the self-join's per-row cost
    # (candidate-pair expansion + aggregation) dwarfs its bytes, so
    # AQE's byte-based coalescing would starve it down to ~2 tasks —
    # pin the join's own key at full parallelism instead (the join
    # then rides this exchange; no extra shuffle). Only the int key
    # and three small ints cross this exchange — the gram string is
    # projected out before it.
    n_par = spark.sparkContext.defaultParallelism
    p = (ranked.filter(F.col("pos") <= prefix_len)
         .select("doc_id", "n", "gk", "pos")
         .repartition(n_par, "gk"))
    a, b = p.alias("a"), p.alias("b")
    # Overlap upper bound from ALL shared prefix grams: the matches
    # themselves plus whatever could follow the last one in either
    # list — strictly tighter than the single-match PPJoin bound
    # (663k -> 420k candidate pairs at sf0.1, measured).
    ubound = (F.count(F.lit(1))
              + F.least(F.first(F.col("a.n")) - F.max(F.col("a.pos")),
                        F.first(F.col("b.n")) - F.max(F.col("b.pos"))))
    # Exact integer form of ceil(t/(1+t) * (na+nb)) for t = 4/5:
    # ceil(4s/9) = (4s + 8) div 9. The float route is one ulp above
    # 4/9, so for s divisible by 9 it over-counts by 1 and prunes a
    # true pair sitting exactly at Jaccard = t — float math stays out
    # of prune thresholds (same determinism rule as the oracles).
    min_overlap = F.floor(
        (F.lit(4) * (F.first(F.col("a.n")) + F.first(F.col("b.n")))
         + F.lit(8)) / F.lit(9))
    cand = (
        a.join(b, (F.col("a.gk") == F.col("b.gk"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & (F.col("b.n") >= F.ceil(F.lit(t) * F.col("a.n")))
               & (F.col("b.n") <= F.floor(F.col("a.n") / F.lit(t))))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(ubound.alias("ub"), min_overlap.alias("mo"))
        .filter(F.col("ub") >= F.col("mo"))
        .select("doc_a", "doc_b")
        # Same reasoning as the prefix repartition: verification does
        # an array_intersect per candidate pair — byte-small, CPU-big.
        .repartition(n_par, "doc_a", "doc_b")
    )
    # Verification arrays come straight from the distinct-shingle
    # relation: array_intersect is order-blind, so the df-ranked
    # ordering is NOT needed here — reusing `ranked` would re-run its
    # df join + two windows once per verification side (measured ~9 s
    # of the query's 14 s at sf0.1). One row per document; the joins
    # stay unhinted so AQE broadcasts the array table when it is small
    # and falls back to a doc_id-keyed shuffle at corpus scale.
    arrs = g0.groupBy("doc_id").agg(F.collect_list("gram").alias("grams"),
                                    F.count(F.lit(1)).alias("n"))
    av = arrs.select(F.col("doc_id").alias("doc_a"),
                     F.col("grams").alias("grams_a"), F.col("n").alias("na"))
    bv = arrs.select(F.col("doc_id").alias("doc_b"),
                     F.col("grams").alias("grams_b"), F.col("n").alias("nb"))
    inter = (cand.join(av, "doc_a").join(bv, "doc_b")
             .select("doc_a", "doc_b", "na", "nb",
                     F.size(F.array_intersect("grams_a", "grams_b"))
                     .cast("long").alias("n_common")))
    jac = (F.col("n_common").cast("double")
           / (F.col("na") + F.col("nb") - F.col("n_common")))
    return (inter.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= t)
            .select("doc_a", "doc_b", "n_common", "jaccard"))


#: Fixed keyword query for the search-scoring operator; any term list
#: works, the shape is what matters.
_BM25_TERMS = ("merge", "window", "vector")
_BM25_TERMS_SQL = "('merge', 'window', 'vector')"


@query(
    "bm25_keyword_topk",
    oracle=f"""
    WITH dl AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok IN {_BM25_TERMS_SQL}
        GROUP BY doc_id, tok
    ), df AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ), contrib AS (
        SELECT tf.doc_id, tf.tok,
               ((stats.n_docs - df.df + 0.5e0) / (df.df + 0.5e0))
               * (tf.tf * 2.2e0)
               / (tf.tf + 1.2e0 * (0.25e0 + 0.75e0 * dl.dl / stats.avgdl))
                   AS c
        FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), stats
    ), scored AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_matched,
               COALESCE(MAX(CASE WHEN tok = 'merge' THEN c END), 0)
               + COALESCE(MAX(CASE WHEN tok = 'window' THEN c END), 0)
               + COALESCE(MAX(CASE WHEN tok = 'vector' THEN c END), 0)
                   AS score
        FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, n_matched, score
    FROM scored ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-search scoring: BM25-shaped top-10 documents for a
    fixed 3-term query (k1=1.2, b=0.75).

    One deliberate deviation from textbook BM25 for bit-exact
    reproducibility: the idf factor is the *rational* Robertson/
    Sparck-Jones weight ``(N - df + 0.5)/(df + 0.5)`` without the
    log. ``ln`` is not correctly-rounded in either engine's math
    library (JVM ``Math.log`` and libm may differ in the last ulp),
    while every operation here — integer counts, one division chain
    per (doc, term), a fixed-order 3-term sum — is an IEEE-exact
    sequence both engines evaluate identically. Ranking quality is
    the textbook one per-term; only cross-term weighting differs.

    Scale shape: the token explode is filtered to the query terms at
    the scan (predicate pushdown keeps the exploded volume
    |terms|-bounded, not corpus-bounded); df and the corpus stats are
    one tiny aggregate broadcast back; top-10 is TakeOrdered, never a
    global sort. The per-term contributions pivot to fixed columns so
    the final score is a deterministic fixed-order sum.
    """
    d = Catalog(spark, sf_dir).documents
    dl = d.select("doc_id", F.size(_tokens()).cast("long").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   (F.sum("dl").cast("double") / F.count(F.lit(1)))
                   .alias("avgdl"))
    toks = (d.select("doc_id", F.explode(_tokens()).alias("tok"))
            .filter(F.col("tok").isin(*_BM25_TERMS)))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    c = (tf.join(F.broadcast(df_tbl), "tok").join(dl, "doc_id")
         .crossJoin(F.broadcast(stats))
         .select("doc_id", "tok",
                 (((F.col("n_docs") - F.col("df") + 0.5)
                   / (F.col("df") + 0.5))
                  * (F.col("tf") * 2.2)
                  / (F.col("tf")
                     + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))))
                 .alias("c")))
    pick = [F.coalesce(F.max(F.when(F.col("tok") == t, F.col("c"))), F.lit(0.0))
            for t in _BM25_TERMS]
    scored = (c.groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_matched"),
                   (pick[0] + pick[1] + pick[2]).alias("score")))
    return (scored.orderBy(F.col("score").desc(), "doc_id").limit(10)
            .select("doc_id", "n_matched", "score"))


@query(
    "neardup_canonical_docs",
    oracle="""
    WITH RECURSIVE grams AS (
        SELECT doc_id, source, unnest(list_distinct(g)) AS gram,
               len(list_distinct(g)) AS n_grams
        FROM (
            SELECT doc_id, source,
                   list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 1),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i + 1]) AS g
            FROM documents
        )
    ), pairs AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM grams a JOIN grams b
          ON a.source = b.source AND a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE)
                   / (any_value(a.n_grams) + any_value(b.n_grams) - COUNT(*))
                   >= 0.5
    ), edges AS (
        SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
    ), nodes AS (
        SELECT DISTINCT src AS v FROM edges
    ), reach (v, r) AS (
        SELECT v, v FROM nodes
        UNION
        SELECT reach.v, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    ), clusters AS (
        SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v
    ), members AS (
        SELECT c.cluster_id, d.doc_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, d.doc_id) AS rk
        FROM clusters c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id,
           CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
               AS canonical_doc_id,
           CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
               AS canonical_chars,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM members GROUP BY cluster_id
    """,
)
def neardup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection per near-duplicate cluster:
    connected components over the exact bigram-Jaccard >= 0.5 edges
    (same pair generation as ``ngram_jaccard_neardup``), then each
    cluster keeps its LONGEST member (max n_chars, ties to the lowest
    doc_id) — the curation policy that prefers the most complete copy
    over the arbitrary first one.

    Composition: pair generation (bucketed inverted-index join) →
    min-label/pointer-jumping components (O(log diameter) shuffle
    rounds, similarity.connected_components) → one window argmax over
    cluster members only (clusters are a small fraction of the
    corpus; the full table never re-shuffles). The DuckDB twin
    recomputes the chain with a recursive CTE, verifying the composed
    pipeline end-to-end — edges, closure, and the keep-longest rule.
    """
    from .similarity import connected_components
    d = Catalog(spark, sf_dir).documents
    pairs = ngram_jaccard_neardup(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = pairs.union(pairs.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
    labels, _ = connected_components(edges)
    members = (labels.select(F.col("v").alias("doc_id"), "cluster_id")
               .join(d.select("doc_id", "n_chars"), "doc_id"))
    rk = F.row_number().over(
        W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id"))
    return (members.withColumn("rk", rk)
            .groupBy("cluster_id")
            .agg(F.max(F.when(F.col("rk") == 1, F.col("doc_id")))
                 .alias("canonical_doc_id"),
                 F.max(F.when(F.col("rk") == 1, F.col("n_chars")))
                 .alias("canonical_chars"),
                 F.count(F.lit(1)).alias("n_members")))


@query(
    "phrase_search_bigram_index",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE ' ' || text || ' ' LIKE '% merge window %'
    """,
)
def phrase_search_bigram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search through the INVERTED INDEX: documents containing
    the exact phrase "merge window", answered by probing the bigram
    shingle index (one equi-join on the phrase's bigram) instead of
    scanning text — while the oracle answers the same question with a
    boundary-guarded LIKE scan. Two entirely different physical
    strategies, one answer: the parity statement that the index IS
    the text.

    Scale: the index probe touches only the posting list of the
    queried gram (distinct doc_ids, semi-join back for attributes);
    the LIKE scan reads every byte of every document. At 100 TB the
    gap is the point — this is why search engines build postings.
    Longer phrases AND-join their component bigrams' posting lists,
    same shape.
    """
    d = Catalog(spark, sf_dir).documents
    postings = _word_bigrams(d).filter(F.col("gram") == "merge window")
    return (d.join(postings.select("doc_id").distinct(), "doc_id", "semi")
            .select("doc_id", "lang", "source"))


@query(
    "boolean_and_search",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE ' ' || text || ' ' LIKE '% merge %'
      AND ' ' || text || ' ' LIKE '% vector %'
      AND ' ' || text || ' ' LIKE '% window %'
    """,
)
def boolean_and_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND search over the token inverted index: documents
    containing ALL of {merge, vector, window} as whole words. The
    engine intersects the three posting lists (smallest-first
    semi-join chain — each join can only shrink the candidate set),
    while the oracle LIKE-scans with word-boundary guards: index
    strategy vs scan strategy, one answer, same parity statement as
    ``phrase_search_bigram_index`` one level up the query algebra.
    """
    d = Catalog(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(_tokens()).alias("tok"))
    out = d
    for term in ("merge", "vector", "window"):
        postings = (toks.filter(F.col("tok") == term)
                    .select("doc_id").distinct())
        out = out.join(postings, "doc_id", "semi")
    return out.select("doc_id", "lang", "source")


def _rrf_oracle() -> str:
    """RRF fusion oracle built ON TOP of the registered BM25 oracle
    (imported as a CTE body, so the lexical leg can never drift from
    the thing it fuses)."""
    from . import ORACLES
    bm25 = ORACLES["bm25_keyword_topk"]
    return f"""
    WITH lex AS ({bm25}
    ), lexr AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_lex
        FROM lex
    ), q AS (
        SELECT d.doc_id,
               CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
                   / len(string_split(d.text, ' ')) AS dr
        FROM documents d JOIN lexr ON d.doc_id = lexr.doc_id
    ), qr AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY dr DESC, doc_id) AS r_q
        FROM q
    )
    SELECT lexr.doc_id,
           CAST(r_lex AS BIGINT) AS r_lex,
           CAST(r_q AS BIGINT) AS r_q,
           1e0 / (60 + r_lex) + 1e0 / (60 + r_q) AS rrf_score
    FROM lexr JOIN qr ON lexr.doc_id = qr.doc_id
    ORDER BY rrf_score DESC, lexr.doc_id
    """


@query("hybrid_rrf_retrieval", oracle=_rrf_oracle())
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.,
    SIGIR'09): the BM25 lexical top-10 re-ranked by fusing its rank
    with a quality-prior rank (distinct-token ratio — the repetition
    signal from ``text_quality_score``) as
    ``1/(60+r_lex) + 1/(60+r_quality)``. The standard way to combine
    heterogeneous rankers without score calibration — rank math only,
    so fusing a float-scored ranker with anything stays deterministic
    (each RRF term is one exact division; the two-term sum has fixed
    order).

    Scale shape: the corpus-sized work is the BM25 leg (scan-bounded,
    TakeOrdered — see ``bm25_keyword_topk``); fusion itself runs on
    the 10-row candidate set, so the two unpartitioned rank windows
    are bounded by the upstream LIMIT, not by the corpus.
    """
    lex = bm25_keyword_topk(spark, sf_dir).select("doc_id", "score")
    r_lex = F.row_number().over(
        W.orderBy(F.col("score").desc(), "doc_id")).cast("long")
    lexr = lex.select("doc_id", r_lex.alias("r_lex"))
    d = Catalog(spark, sf_dir).documents
    dr = (F.size(F.array_distinct(_tokens())).cast("double")
          / F.size(_tokens()))
    q = (d.join(F.broadcast(lexr), "doc_id")
         .select("doc_id", "r_lex", dr.alias("dr")))
    r_q = F.row_number().over(
        W.orderBy(F.col("dr").desc(), "doc_id")).cast("long")
    fused = q.select("doc_id", "r_lex", r_q.alias("r_q"))
    rrf = (F.lit(1.0) / (F.lit(60) + F.col("r_lex"))
           + F.lit(1.0) / (F.lit(60) + F.col("r_q")))
    return (fused.withColumn("rrf_score", rrf)
            .orderBy(F.col("rrf_score").desc(), "doc_id"))


@query(
    "dup_span_trim_corpus",
    oracle="""
    WITH toks AS (
        SELECT doc_id, i - 1 AS pos, string_split(text, ' ')[i] AS tok
        FROM documents,
             LATERAL unnest(generate_series(1, len(string_split(text, ' '))))
                 AS t(i)
    ), g AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string((string_split(text, ' '))[i:i + 4], ' ')
                   AS gram
        FROM documents,
             LATERAL unnest(generate_series(1,
                            len(string_split(text, ' ')) - 4)) AS t(i)
    ), gf AS (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY gram) AS cf,
               ROW_NUMBER() OVER (PARTITION BY gram
                                  ORDER BY doc_id, pos) AS rn
        FROM g
    ), rem AS (
        SELECT DISTINCT doc_id, pos + j AS cpos
        FROM gf, LATERAL unnest(generate_series(0, 4)) AS t(j)
        WHERE cf >= 2 AND rn > 1
    ), kept AS (
        SELECT t.doc_id, t.pos, t.tok
        FROM toks t LEFT JOIN rem r
          ON t.doc_id = r.doc_id AND t.pos = r.cpos
        WHERE r.doc_id IS NULL
    ), rebuilt AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           COALESCE(r.n_kept, 0) AS n_kept,
           CAST(len(string_split(d.text, ' ')) AS BIGINT)
               - COALESCE(r.n_kept, 0) AS n_removed,
           COALESCE(r.cleaned_text, '') AS cleaned_text
    FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
)
def dup_span_trim_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLEANING step of exact-substring dedup (Lee et al. 2022),
    completing ``dup_ngram_span_stats`` (which only measures): rebuild
    every document with its duplicated spans removed, keeping one
    canonical occurrence of each span corpus-wide.

    Rule: a 5-token window is duplicated when its exact text occurs
    >= 2 times in the corpus; the canonical occurrence is the
    (doc_id, pos)-minimal one; every token covered by a NON-canonical
    duplicated window is dropped; survivors re-concatenate in
    position order. Sparing the canonical copy is what makes this
    dedup rather than deletion: no span is removed on account of its
    own duplication everywhere at once. (A canonical occurrence can
    still lose tokens to an overlapping *different* duplicated span —
    the same boundary behavior as Lee et al.'s span cutting.)

    Scale shape: one token explode feeds both the window build and the
    rebuild; corpus frequency AND the canonical rank come from the
    same gram-keyed exchange (count + row_number share one window
    spec); removals shuffle as (doc_id, position) ints, never text;
    the rebuild is a doc_id-keyed sort-within-group concat — Shuffled
    rows are positions and 5-gram strings, whole documents move only
    at the final per-doc concat, which at 100 TB writes straight back
    to the corpus store partitioned by the same key it grouped on.
    """
    d = Catalog(spark, sf_dir).documents
    base = d.select("doc_id", F.size(_tokens()).cast("long").alias("n_tokens"))
    toks = d.select("doc_id", F.posexplode(_tokens()).alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, 5)]
    g = (toks.select("doc_id", "pos", F.concat_ws(" ", *parts).alias("gram"),
                     F.lead("tok", 4).over(w).alias("_tail"))
         .filter(F.col("_tail").isNotNull())
         .drop("_tail"))
    wg = W.partitionBy("gram")
    gf = (g.withColumn("cf", F.count(F.lit(1)).over(wg))
          .withColumn("rn", F.row_number().over(wg.orderBy("doc_id", "pos"))))
    rem = (gf.filter((F.col("cf") >= 2) & (F.col("rn") > 1))
           .select("doc_id",
                   F.explode(F.sequence(F.col("pos"), F.col("pos") + 4))
                   .alias("cpos"))
           .distinct())
    kept = toks.join(rem, (toks.doc_id == rem.doc_id)
                     & (toks.pos == rem.cpos), "left_anti")
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_kept"),
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "tok"))),
                            lambda s: s["tok"])).alias("cleaned_text")))
    return (base.join(rebuilt, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"),
                    (F.col("n_tokens")
                     - F.coalesce("n_kept", F.lit(0))).cast("long")
                    .alias("n_removed"),
                    F.coalesce("cleaned_text", F.lit(""))
                    .alias("cleaned_text")))


@query(
    "dedup_incremental_batch",
    oracle="""
    WITH d AS (
        SELECT doc_id, sha256(text) AS digest,
               doc_id % 10 >= 8 AS is_batch
        FROM documents
    ), idx AS (
        SELECT digest, MIN(doc_id) AS idx_canon
        FROM d WHERE NOT is_batch GROUP BY digest
    ), bm AS (
        SELECT digest, MIN(doc_id) AS batch_canon
        FROM d WHERE is_batch GROUP BY digest
    )
    SELECT b.doc_id,
           CASE WHEN idx.idx_canon IS NOT NULL THEN 'dup_of_index'
                WHEN bm.batch_canon < b.doc_id THEN 'dup_in_batch'
                ELSE 'novel' END AS verdict,
           COALESCE(idx.idx_canon, bm.batch_canon) AS canonical_doc_id
    FROM d b
    LEFT JOIN idx ON idx.digest = b.digest
    JOIN bm ON bm.digest = b.digest
    WHERE b.is_batch
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact dedup — the shape every recurring crawl
    snapshot actually runs: a NEW batch of documents is judged against
    the historical index WITHOUT rescanning or re-deduping the
    corpus. (``dedup_exact_keep_first`` is the whole-corpus batch
    job; rerunning it per snapshot is O(corpus) forever, this is
    O(batch + index-probe).) Simulated split: doc_id % 10 >= 8 is the
    incoming batch, the rest is the already-indexed corpus.

    Each batch document gets a verdict: ``dup_of_index`` (content
    digest already indexed — canonical is the index's keeper),
    ``dup_in_batch`` (novel vs the index but an earlier batch doc has
    the same digest — keep-first within the batch), or ``novel``
    (would be appended to the digest index, closing the incremental
    loop). One shuffle on the 32-byte digest; document bodies never
    move. At 100 TB the index side is the persisted DIGEST TABLE
    (digest, canonical_id) — a few % of corpus bytes — and the batch
    probe is a broadcast or bucketed join against it, so per-snapshot
    cost scales with the snapshot, not the archive.
    """
    d = Catalog(spark, sf_dir).documents
    docs = d.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("digest"),
        (F.col("doc_id") % 10 >= 8).alias("is_batch"))
    idx = (docs.filter(~F.col("is_batch"))
           .groupBy("digest").agg(F.min("doc_id").alias("idx_canon")))
    batch = docs.filter(F.col("is_batch"))
    bm = batch.groupBy("digest").agg(F.min("doc_id").alias("batch_canon"))
    return (
        batch.join(idx, "digest", "left").join(bm, "digest")
        .select(
            "doc_id",
            F.when(F.col("idx_canon").isNotNull(), F.lit("dup_of_index"))
             .when(F.col("batch_canon") < F.col("doc_id"),
                   F.lit("dup_in_batch"))
             .otherwise(F.lit("novel")).alias("verdict"),
            F.coalesce("idx_canon", "batch_canon")
             .alias("canonical_doc_id"))
    )


@query(
    "soft_dedup_weights",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               COUNT(*) OVER (PARTITION BY sha256(text)) AS n_copies
        FROM documents
    )
    SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies,
           CAST(1000000 // n_copies AS BIGINT) AS weight_micros
    FROM g
    """,
)
def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup: instead of dropping duplicates
    (``dedup_exact_keep_first``), keep every copy but downweight it to
    1/n_copies — the sampling-weight formulation used when the
    training loader draws documents proportionally and hard deletion
    would distort the source mixture. Each exact-duplicate cluster
    contributes total weight 1, so the effective corpus size equals
    the distinct-content count while per-source byte accounting stays
    intact. Weights are exact integer micros (10^6 div n) — no float
    drift, and the loader renormalizes anyway.

    Same shuffle as the hard dedup (32-byte digests via one window),
    one extra map-side division. Composes upstream of
    ``temperature_mix_sample`` / ``mixture_interleave_manifest``:
    multiply their per-source weights by this per-doc weight.
    """
    d = Catalog(spark, sf_dir).documents
    h = F.sha2(F.col("text"), 256)
    n = F.count(F.lit(1)).over(W.partitionBy(h))
    return (d.select("doc_id", n.alias("n_copies"))
            .withColumn("weight_micros",
                        F.expr("1000000 div n_copies")))


#: Winnowing-companion parameters: token k-grams, window of w
#: consecutive gram hashes, positions bounded below 2^20 tokens/doc.
_WN_K = 5
_WN_W = 4
_WN_POS = 1 << 20

#: Shared DuckDB CTE chain selecting winnowing fingerprints:
#: fps(doc_id, n_grams, kmin) where kmin = hash*2^20 + (2^20-1-pos).
#: Short documents (fewer grams than one window) keep their single
#: global-min selection via the GREATEST clamp, matching the kernel's
#: short-input behavior. One source of truth for both winnowing
#: oracles (the _mh_sql_parts pattern).
_WN_FPS_SQL = f"""
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS a,
               len(string_split(text, ' ')) AS n
        FROM documents
    ), grams AS (
        SELECT doc_id, i - 1 AS pos,
               a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' ' ||
               a[i+3] || ' ' || a[i+4] AS gram,
               n - {_WN_K - 1} AS n_grams
        FROM toks, LATERAL unnest(generate_series(1, n - {_WN_K - 1}))
             AS t(i)
        WHERE n >= {_WN_K}
    ), keyed AS (
        SELECT doc_id, pos, n_grams,
               CAST(('0x' || substring(md5(gram), 1, 8))::UBIGINT
                    AS BIGINT) * {_WN_POS}
               + ({_WN_POS - 1} - pos) AS key
        FROM grams
    ), wins AS (
        SELECT doc_id, pos, n_grams,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW
                              AND {_WN_W - 1} FOLLOWING) AS kmin
        FROM keyed
    ), fps AS (
        SELECT DISTINCT doc_id, n_grams, kmin
        FROM wins
        WHERE pos <= GREATEST(n_grams - {_WN_W}, 0)
    )"""


def _winnow_fps(d: DataFrame) -> DataFrame:
    """Spark twin of ``_WN_FPS_SQL``: distinct selected fingerprints
    per document as (doc_id, n_grams, kmin). Both winnowing queries
    build on this one pipeline so the construction cannot drift."""
    toks = d.select("doc_id",
                    F.posexplode(F.split(F.col("text"), " "))
                    .alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(" ", "tok", *[F.lead("tok", i).over(w)
                                     for i in range(1, _WN_K)])
    grams = (toks
             .withColumn("last_tok", F.lead("tok", _WN_K - 1).over(w))
             .withColumn("gram", gram)
             .filter(F.col("last_tok").isNotNull())
             .select("doc_id", "pos", "gram"))
    h = F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
    keyed = (grams
             .withColumn("n_grams",
                         F.count(F.lit(1)).over(W.partitionBy("doc_id")))
             .withColumn("key",
                         h * _WN_POS + (F.lit(_WN_POS - 1) - F.col("pos"))))
    kmin = F.min("key").over(w.rowsBetween(0, _WN_W - 1))
    return (keyed.withColumn("kmin", kmin)
            .filter(F.col("pos")
                    <= F.greatest(F.col("n_grams") - _WN_W, F.lit(0)))
            .select("doc_id", "n_grams", "kmin").distinct())


@query(
    "winnowing_tokengram_fingerprints",
    oracle=f"""
    WITH {_WN_FPS_SQL}
    SELECT doc_id,
           CAST(MAX(n_grams) AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(SUM(kmin // {_WN_POS}) AS BIGINT) AS fp_checksum,
           CAST(MIN({_WN_POS - 1} - kmin % {_WN_POS}) AS BIGINT)
               AS first_fp_pos,
           CAST(MAX({_WN_POS - 1} - kmin % {_WN_POS}) AS BIGINT)
               AS last_fp_pos
    FROM fps GROUP BY doc_id
    """,
)
def winnowing_tokengram_fingerprints(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection with a FULL oracle — the
    companion that lifts the SELECTION SCHEME out of rows-only status:
    token 5-gram hashes are the md5-derived 32-bit integers both
    engines compute identically (the MinHash upgrade precedent), and
    each w-window's minimum-hash gram is selected with ties broken
    RIGHTMOST via arithmetic encoding — key = hash * 2^20 +
    (2^20-1 - pos), so an ordinary window MIN needs no argmin
    construct (declared bound: documents under 2^20 tokens).

    Scheme caveat, stated plainly: this is BASIC winnowing with a
    per-window rightmost tie rule. The SIGMOD'03 ROBUST rule is
    stateful (a window re-selects the previous fingerprint when it
    can), selects FEWER fingerprints on runs of equal hashes, and
    lives only in the byte-level ``doc_winnowing_fingerprints``
    kernel (pytest-pinned, engine-private) — the two selection sets
    agree on repetition-free text and diverge on boilerplate runs.
    Documents shorter than one window keep a single global-min
    selection (GREATEST clamp), matching the kernel's short-input
    handling. Per doc: fingerprint count, hash checksum, first/last
    selected positions — all hash-verified; one doc_id exchange
    serves the gram window, the w-window MIN, and the aggregate.
    """
    fps = _winnow_fps(Catalog(spark, sf_dir).documents)
    pos_of = F.lit(_WN_POS - 1) - F.col("kmin") % _WN_POS
    return (fps.groupBy("doc_id")
            .agg(F.max("n_grams").alias("n_grams"),
                 F.count(F.lit(1)).alias("n_fingerprints"),
                 F.sum(F.expr(f"kmin div {_WN_POS}")).alias("fp_checksum"),
                 F.min(pos_of).alias("first_fp_pos"),
                 F.max(pos_of).alias("last_fp_pos")))


@query("minhash_incremental_neardup", oracle=_minhash_incremental_oracle())
def minhash_incremental_neardup(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup — the MinHash sibling of
    ``dedup_incremental_batch`` and the job a recurring crawl
    actually runs: the new batch (doc_id % 10 >= 8) is checked
    against the persisted BAND INDEX of the historical corpus plus
    earlier batch docs, never all-pairs over the archive. Each batch
    doc meets its partners in the same band buckets as the batch
    operator (:func:`_mh_bucket_pairs`, one ``documents`` scan and no
    join); matches verify by
    signature agreement >= 0.5 and report whether the partner came
    from the index or from within the batch (keep-first discipline:
    only earlier batch ids count as partners).

    At 100 TB the persisted state is the band table — 8 short keys
    per indexed doc — and per-snapshot cost is O(batch bands x bucket
    occupancy); novel docs' bands append to the index, closing the
    loop exactly like the digest index. Fully oracle-checked via the
    shared pipeline-replay fragments (md5 gram hashes, fixed
    permutation coefficients).
    """
    rows = (_mh_signatures(Catalog(spark, sf_dir).documents)
            .selectExpr("struct(doc_id AS id, s, doc_id % 10 >= 8 AS batch)"
                        " AS r"))
    # r is the batch doc, m its partner: an index doc or an earlier
    # batch doc.
    return (
        _mh_bucket_pairs(rows, _MH_BANDS, _MH_ROWS_PER_BAND,
                         pair="r.batch AND (NOT m.batch OR m.id < r.id)"
                              " AND m.id <> r.id",
                         emit=[("partner_doc", "m.id"),
                               ("partner_src", "CASE WHEN m.batch"
                                " THEN 'batch' ELSE 'index' END"),
                               ("est_jaccard", _MH_EST_JACCARD)])
        .select(F.col("r.id").alias("batch_doc"), "pair.partner_doc",
                "pair.partner_src", "pair.est_jaccard")
        .filter(F.col("est_jaccard") >= 0.5)
    )


@query(
    "winnowing_neardup_pairs",
    oracle=f"""
    WITH {_WN_FPS_SQL}, fpd AS (
        SELECT DISTINCT doc_id, kmin // {_WN_POS} AS fp FROM fps
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fpd a JOIN fpd b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 3
    """,
)
def winnowing_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup JOIN — what MOSS actually does
    with the fingerprints: documents sharing >= 3 selected
    fingerprints are candidate near-dups (the winnowing guarantee
    makes this CONTAINMENT-sensitive — any shared run of k+w-1 tokens
    forces a shared fingerprint — where MinHash estimates symmetric
    Jaccard; a small plagiarized block inside a large document shows
    up here and not there). Same equi-join scale shape as every LSH
    family: the shuffle carries (fingerprint, doc_id), buckets are
    fingerprint-frequency-bounded, never all-pairs. Note the basic
    scheme selects one fingerprint per window on runs of equal hashes
    (see the companion's scheme caveat), so boilerplate-heavy corpora
    see more shared fingerprints per true overlap — the >= 3 support
    threshold absorbs that inflation.

    Built on the SAME ``_winnow_fps`` pipeline / ``_WN_FPS_SQL``
    fragment as ``winnowing_tokengram_fingerprints`` — selection and
    join cannot drift apart.
    """
    fps = (_winnow_fps(Catalog(spark, sf_dir).documents)
           .select("doc_id", F.expr(f"kmin div {_WN_POS}").alias("fp"))
           .distinct())
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"),
                   F.col("fp").alias("fp_b"))
    return (a.join(b, (F.col("fp") == F.col("fp_b"))
                   & (F.col("doc_a") < F.col("doc_b")))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= 3))


def _bpe_round_sql(words: str, merges: str, out: str,
                   carry: str = "") -> str:
    """One DuckDB BPE round over ``words(spaced, wn)``: count adjacent
    symbol pairs (occurrences weighted by word count), pick the most
    frequent (ties: lexicographically smallest pair), apply the merge
    with the doubled-separator replace that preserves greedy
    left-to-right, boundary-safe semantics. ``carry`` names extra
    word-table columns (e.g. the original token for the apply-side
    pipeline) that ride through the merge unchanged."""
    carry_sel = "".join(f" w.{c}," for c in carry.split(",") if c)
    return f"""
    {out}_pairs AS (
        SELECT syms[i] AS a, syms[i + 1] AS b,
               CAST(CAST(SUM(wn) AS BIGINT) AS BIGINT) AS cnt
        FROM (SELECT string_split(spaced, ' ') AS syms, wn FROM {words}),
             unnest(range(1, len(syms))) AS r(i)
        GROUP BY 1, 2
    ), {merges} AS (
        SELECT a, b, a || b AS merged, cnt
        FROM {out}_pairs ORDER BY cnt DESC, a, b LIMIT 1
    ), {out} AS (
        SELECT trim(replace(replace(
                   ' ' || replace(w.spaced, ' ', '  ') || ' ',
                   ' ' || m.a || '  ' || m.b || ' ',
                   ' ' || m.merged || ' '),
                   '  ', ' ')) AS spaced,
              {carry_sel} w.wn
        FROM {words} w CROSS JOIN {merges} m
    )"""


@query(
    "bpe_merge_induction",
    oracle=f"""
    WITH words AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS wn
        FROM (SELECT unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok <> '' GROUP BY tok
    ), w0 AS (
        SELECT trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) AS spaced,
               wn
        FROM words
    ),{_bpe_round_sql('w0', 'm1', 'w1')},
    {_bpe_round_sql('w1', 'm2', 'w2')},
    {_bpe_round_sql('w2', 'm3', 'w3')}
    SELECT * FROM (
        SELECT 1 AS round, a AS left_sym, b AS right_sym, merged,
               cnt AS pair_count FROM m1
        UNION ALL
        SELECT 2, a, b, merged, cnt FROM m2
        UNION ALL
        SELECT 3, a, b, merged, cnt FROM m3
    ) ORDER BY round
    """,
)
def bpe_merge_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge induction (Sennrich '16) — the first
    three merge rules a BPE tokenizer trained on this corpus would
    learn. Each round counts adjacent symbol pairs over the
    (deduplicated) word-frequency table, picks the most frequent pair
    (deterministic tie-break: lexicographically smallest), and merges
    it greedily left-to-right in every word. Merging uses the
    doubled-separator replace trick so a plain substring replace —
    identical in Spark and DuckDB — is boundary-safe and handles
    consecutive and overlapping occurrences exactly like the
    reference greedy scan ("l l l" -> "ll l").

    Scale shape: the corpus is touched once (token explode -> word
    counts); every merge round then runs on the WORD table, whose
    cardinality is the vocabulary, not the corpus — the standard BPE
    trainer decomposition. Pair counting shuffles one row per
    distinct (a, b) pair; the argmax is a vocabulary-sized TakeOrdered
    and broadcasts back as a 1-row cross join. At 100 TB the word
    table still fits a fraction of one executor; rounds 4..30000 are
    the same plan in a loop with the word table checkpointed."""
    _, merges = _bpe_rounds(_bpe_word_table(spark, sf_dir))
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("round")


def _bpe_word_table(spark: SparkSession, sf_dir: str,
                    carry_tok: bool = False) -> DataFrame:
    """The BPE trainer's word-frequency table: one row per distinct
    corpus token with its count and space-separated character split.
    ``carry_tok`` keeps the original token (the apply-side pipeline
    needs the tok -> final-segmentation mapping)."""
    d = Catalog(spark, sf_dir).documents
    words = (d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
             .where(F.col("tok") != "")
             .groupBy("tok").agg(F.count(F.lit(1)).alias("wn")))
    cols = (["tok"] if carry_tok else []) + ["spaced", "wn"]
    return (words.withColumn(
                "spaced",
                F.trim(F.regexp_replace(F.col("tok"), "(.)", "$1 ")))
            .select(*cols)
            .localCheckpoint(eager=False))


def _bpe_rounds(w: DataFrame, n_rounds: int = 3
                ) -> tuple[DataFrame, list[DataFrame]]:
    """Run ``n_rounds`` BPE trainer rounds over a word table
    ``w(spaced, wn, *carry)``; extra columns ride through each merge
    unchanged. Returns (final word table, per-round merge-rule
    DataFrames). Shared by the trainer (emits the rules) and the
    apply-side tokenizer (consumes the final segmentation) so their
    merge selection can never drift apart."""
    carry = [c for c in w.columns if c not in ("spaced", "wn")]
    merges = []
    for rnd in range(1, n_rounds + 1):
        syms = F.split(F.col("spaced"), " ")
        pairs = (w.select(syms.alias("syms"), "wn")
                 .select(F.posexplode(F.expr(
                     "transform(slice(syms, 1, size(syms) - 1),"
                     " (s, i) -> struct(s AS a, syms[i + 1] AS b))"))
                     .alias("p", "pair"), "wn")
                 .select("pair.a", "pair.b", "wn")
                 .groupBy("a", "b").agg(F.sum("wn").alias("cnt")))
        m = (pairs.orderBy(F.col("cnt").desc(), "a", "b").limit(1)
             .select("a", "b", F.concat("a", "b").alias("merged"), "cnt")
             .localCheckpoint(eager=False))
        merges.append(m.select(F.lit(rnd).alias("round"),
                               F.col("a").alias("left_sym"),
                               F.col("b").alias("right_sym"),
                               "merged",
                               F.col("cnt").alias("pair_count")))
        doubled = F.concat(F.lit(" "),
                           F.regexp_replace(F.col("spaced"), " ", "  "),
                           F.lit(" "))
        merged = F.expr(
            "replace(doubled, ' ' || a || '  ' || b || ' ',"
            " ' ' || merged || ' ')")
        w = (w.crossJoin(F.broadcast(m))
             .withColumn("doubled", doubled)
             .select(F.trim(F.regexp_replace(merged, "  ", " "))
                     .alias("spaced"), *carry, "wn")
             .localCheckpoint(eager=False))
    return w, merges


@query(
    "bpe_apply_token_counts",
    oracle=f"""
    WITH words AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS wn
        FROM (SELECT unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok <> '' GROUP BY tok
    ), w0 AS (
        SELECT tok,
               trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) AS spaced,
               wn
        FROM words
    ),{_bpe_round_sql('w0', 'm1', 'w1', carry='tok')},
    {_bpe_round_sql('w1', 'm2', 'w2', carry='tok')},
    {_bpe_round_sql('w2', 'm3', 'w3', carry='tok')},
    per_src AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok <> '' GROUP BY source, tok
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS total_words,
           CAST(SUM(cnt * len(string_split(w3.spaced, ' ')))
                AS BIGINT) AS total_bpe_tokens
    FROM per_src JOIN w3 USING (tok)
    GROUP BY source
    ORDER BY source
    """,
)
def bpe_apply_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — the deployment half of
    ``bpe_merge_induction``: train the first three merge rules on the
    corpus (same shared ``_bpe_rounds`` pipeline, so the rules cannot
    drift from the trainer's), then tokenize every document with them
    and report per-source whitespace-word and BPE-token totals — the
    number a token-budgeted training mix is actually planned in.

    The corpus is never re-segmented row by row: tokenization
    factors through the VOCABULARY (tok -> final segmentation from
    the carried-token word table; a word's BPE token count is just
    the symbol count of its final spaced form), and the corpus-side
    work is one (source, tok) count aggregate joined to that
    vocabulary table. At 100 TB the vocabulary is broadcast-sized,
    the corpus is touched once, and applying 30k merges instead of 3
    changes only the loop bound on the word table.
    """
    w3, _ = _bpe_rounds(_bpe_word_table(spark, sf_dir, carry_tok=True))
    vocab = w3.select(
        "tok", F.size(F.split(F.col("spaced"), " ")).alias("n_syms"))
    d = Catalog(spark, sf_dir).documents
    per_src = (d.select("source",
                        F.explode(F.split(F.col("text"), " ")).alias("tok"))
               .where(F.col("tok") != "")
               .groupBy("source", "tok")
               .agg(F.count(F.lit(1)).alias("cnt")))
    return (per_src.join(F.broadcast(vocab), "tok")
            .groupBy("source")
            .agg(F.sum("cnt").alias("total_words"),
                 F.sum(F.col("cnt") * F.col("n_syms"))
                 .alias("total_bpe_tokens"))
            .orderBy("source"))


def _doc_5grams(d: DataFrame) -> DataFrame:
    """Distinct (doc_id, source, gram) 5-gram relation for the novelty
    audit. r12 shape (VERDICT r11 item 7, guide §2.3/§2.4): 5-grams
    come from explode(arrays_zip(slice×5)) — a map-side array op — so
    the token-grain (doc_id, pos) window SHUFFLE+SORT the r11 lead()
    form paid is gone, and the per-doc dedup partially aggregates
    map-side before the single remaining exchange. Gram strings are
    identical (A/B-verified row-for-row at sf0.1); module-level so the
    pre-checkpoint plan is pinnable (the query body checkpoints it,
    which truncates the captured lineage)."""
    toks = F.split(F.col("text"), " ")
    ln = F.greatest(F.size(toks) - 4, F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, i + 1, ln).alias(f"t{i}")
                       for i in range(5)])
    return (d.select("doc_id", "source", F.explode(z).alias("p"))
            .select("doc_id", "source",
                    F.concat_ws(" ", *[F.col(f"p.t{i}") for i in range(5)])
                    .alias("gram"))
            .dropDuplicates(["doc_id", "source", "gram"]))


@query(
    "doc_novelty_fraction",
    oracle="""
    WITH grams AS (
        SELECT doc_id, source,
               syms[i] || ' ' || syms[i + 1] || ' ' || syms[i + 2]
                   || ' ' || syms[i + 3] || ' ' || syms[i + 4] AS gram
        FROM (SELECT doc_id, source, string_split(text, ' ') AS syms
              FROM documents),
             unnest(range(1, len(syms) - 3)) AS r(i)
    ), doc_grams AS (
        SELECT DISTINCT doc_id, source, gram FROM grams
    ), first_seen AS (
        SELECT gram, MIN(doc_id) AS first_doc
        FROM doc_grams GROUP BY gram
    ), per_doc AS (
        SELECT g.doc_id, g.source,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1
                                  ELSE 0 END) AS BIGINT) AS BIGINT)
                   AS n_novel
        FROM doc_grams g JOIN first_seen f USING (gram)
        GROUP BY g.doc_id, g.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CAST(SUM(n_grams) AS BIGINT) AS BIGINT) AS n_grams,
           CAST(CAST(SUM(n_novel) AS BIGINT) AS BIGINT) AS n_novel,
           CAST(CAST(SUM(n_novel) AS BIGINT) AS BIGINT) * 1000000
               // CAST(CAST(SUM(n_grams) AS BIGINT) AS BIGINT)
               AS novelty_micros
    FROM per_doc GROUP BY source
    """,
)
def doc_novelty_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty audit: for each source, the fraction of its
    documents' distinct 5-grams whose FIRST corpus occurrence (by
    doc_id order) is in that document — the inverse of the duplicated-
    span signal. A source stamping out template text scores near
    zero; a source of genuinely fresh material scores near one. The
    per-source integer-micro ratio is the mixture-weighting signal
    data curation uses next to TVD drift.

    One gram explode -> distinct (doc, gram) -> gram-keyed MIN
    aggregate (the shuffle carries distinct grams, vocabulary-bounded
    after map-side combine) joined back to the per-doc gram sets,
    then a source-keyed reduction. No self-joins, no windows over the
    corpus; the gram relation is computed once and reused for both
    sides of the join."""
    d = Catalog(spark, sf_dir).documents
    grams = _doc_5grams(d).localCheckpoint(eager=False)
    first_seen = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (grams.join(first_seen, "gram")
               .groupBy("doc_id", "source")
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                          .otherwise(0)).alias("n_novel")))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_grams").alias("n_grams"),
                 F.sum("n_novel").alias("n_novel"))
            .select("source", "n_docs", "n_grams", "n_novel",
                    F.expr("n_novel * CAST(1000000 AS BIGINT)"
                           " div n_grams").alias("novelty_micros")))


@query(
    "jaccard_threshold_sweep",
    oracle="""
    WITH grams AS (
        SELECT doc_id, source, unnest(list_distinct(g)) AS gram,
               len(list_distinct(g)) AS n_grams
        FROM (
            SELECT doc_id, source,
                   list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 1),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i + 1]) AS g
            FROM documents
        )
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(1000000 * COUNT(*)
                    // (any_value(a.n_grams) + any_value(b.n_grams)
                        - COUNT(*)) AS BIGINT) AS jac_micros
        FROM grams a JOIN grams b
          ON a.source = b.source AND a.gram = b.gram
             AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), thresholds AS (
        SELECT unnest([500000, 600000, 700000, 800000, 900000]) AS t
    ), hits AS (
        SELECT t, doc_a, doc_b
        FROM pairs CROSS JOIN thresholds
        WHERE jac_micros >= t
    ), exploded AS (
        SELECT t, unnest([doc_a, doc_b]) AS doc FROM hits
    )
    SELECT CAST(t AS BIGINT) AS threshold_micros,
           CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs_involved
    FROM exploded
    GROUP BY t
    ORDER BY t
    """,
)
def jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold TUNING CURVE: how many near-dup pairs (and how
    many documents they involve) survive at Jaccard thresholds 0.5 …
    0.9 — the sweep a curation team runs before committing a
    threshold, answering "how much does the corpus shrink if we
    tighten to 0.8?" without re-running the pipeline per candidate
    value.

    One pass computes the full pair relation ONCE (the
    ``ngram_jaccard_neardup`` (source, gram)-bounded skeleton, with
    the similarity as exact integer micros instead of a float
    HAVING), then the 5-row threshold relation cross-applies as a
    broadcast — the expensive candidate generation is shared across
    all thresholds, which is the entire point of sweeping in-engine.
    """
    d = Catalog(spark, sf_dir).documents
    g = (_word_bigrams(d, "source")
         .withColumn("n_grams",
                     F.count(F.lit(1)).over(W.partitionBy("doc_id")))
         # one materialization for both join sides (r4 precedent)
         .localCheckpoint(eager=False))
    a = g.alias("a")
    b = g.alias("b")
    pairs = (
        a.join(b, (F.col("a.source") == F.col("b.source"))
               & (F.col("a.gram") == F.col("b.gram"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"),
             F.first(F.col("a.n_grams")).alias("na"),
             F.first(F.col("b.n_grams")).alias("nb"))
        .select("doc_a", "doc_b",
                F.expr("1000000 * n_common div (na + nb - n_common)")
                .alias("jac_micros")))
    thresholds = (spark.range(5, 10)
                  .select((F.col("id") * 100000).alias("t")))
    hits = (pairs.crossJoin(F.broadcast(thresholds))
            .filter(F.col("jac_micros") >= F.col("t")))
    exploded = hits.select(
        "t", F.explode(F.array("doc_a", "doc_b")).alias("doc"))
    return (exploded.groupBy(F.col("t").alias("threshold_micros"))
            .agg(F.expr("count(1) div 2").alias("n_pairs"),
                 F.countDistinct("doc").alias("n_docs_involved"))
            .orderBy("threshold_micros"))


@query(
    "token_cooccurrence_lift",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_docs_tok
        FROM tok GROUP BY tok
        ORDER BY n_docs_tok DESC, tok LIMIT 50
    ), nd AS (
        SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tok
    ), pres AS (
        SELECT t.doc_id, t.tok, v.n_docs_tok
        FROM tok t JOIN vocab v USING (tok)
    ), pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b,
               CAST(COUNT(*) AS BIGINT) AS n_pair,
               any_value(a.n_docs_tok) AS n_a,
               any_value(b.n_docs_tok) AS n_b
        FROM pres a JOIN pres b
          ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
    )
    SELECT tok_a, tok_b, n_pair, n_a, n_b,
           CAST(1000000 * CAST(n_pair AS HUGEINT) * nd.n_docs
                // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
               AS lift_micros
    FROM pairs CROSS JOIN nd
    ORDER BY lift_micros DESC, tok_a, tok_b
    LIMIT 15
    """,
)
def token_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence LIFT over the head vocabulary — the
    collocation detector (PMI's rational twin: lift = P(a,b) /
    (P(a)·P(b)) as the exact integer ratio n_pair·N div (n_a·n_b),
    no log, so it hash-verifies): which of the top-50 tokens appear
    in the same documents far more often than independence predicts?
    The text-side sibling of ``basket_brand_pair_lift``.

    Scale discipline: pairing the FULL vocabulary is |V|² death, so
    the candidate space is cut to the top-50 head tokens FIRST (one
    vocabulary aggregate, a 50-row broadcast), and the pair join
    runs on the presence relation filtered to that head — per-doc
    fan-out is at most C(50,2) regardless of document length or
    corpus size. Document-level presence (DISTINCT doc, tok) keeps
    multiplicity out of the probability estimates. Top-15 via
    TakeOrdered.
    """
    d = Catalog(spark, sf_dir).documents
    tok = (d.select("doc_id",
                    F.explode(F.split(F.col("text"), " ")).alias("tok"))
           .distinct()
           .localCheckpoint(eager=False))
    vocab = (tok.groupBy("tok")
             .agg(F.count(F.lit(1)).alias("n_docs_tok"))
             .orderBy(F.col("n_docs_tok").desc(), "tok").limit(50))
    nd = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    pres = tok.join(F.broadcast(vocab), "tok")
    a = pres.select("doc_id", F.col("tok").alias("tok_a"),
                    F.col("n_docs_tok").alias("n_a"))
    b = pres.select(F.col("doc_id").alias("doc_b"),
                    F.col("tok").alias("tok_b"),
                    F.col("n_docs_tok").alias("n_b"))
    pairs = (a.join(b, (F.col("doc_id") == F.col("doc_b"))
                    & (F.col("tok_a") < F.col("tok_b")))
             .groupBy("tok_a", "tok_b")
             .agg(F.count(F.lit(1)).alias("n_pair"),
                  F.first("n_a").alias("n_a"),
                  F.first("n_b").alias("n_b")))
    return (pairs.crossJoin(F.broadcast(nd))
            .select("tok_a", "tok_b", "n_pair", "n_a", "n_b",
                    # 128-bit lane: 10^6 * n_pair * n_docs passes int64
                    # once the corpus reaches ~10^6 documents.
                    F.expr("CAST(CAST(1000000 AS DECIMAL(38,0))"
                           " * n_pair * n_docs"
                           " div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
                           " AS BIGINT)").alias("lift_micros"))
            .orderBy(F.col("lift_micros").desc(), "tok_a", "tok_b")
            .limit(15))


def _minhash_quality_oracle() -> str:
    from . import ORACLES
    return f"""
    WITH truth AS ({ORACLES['setsim_prefix_join']}),
    lsh AS ({_minhash_oracle()})
    SELECT CAST(t.n AS BIGINT) AS n_truth,
           CAST(l.n AS BIGINT) AS n_lsh,
           CAST(tp.n AS BIGINT) AS n_tp,
           CAST(tp.n * 1000000 // t.n AS BIGINT) AS recall_micros,
           CAST(tp.n * 1000000 // l.n AS BIGINT)
               AS precision_at08_micros
    FROM (SELECT COUNT(*) AS n FROM truth) t,
         (SELECT COUNT(*) AS n FROM lsh) l,
         (SELECT COUNT(*) AS n
          FROM truth JOIN lsh USING (doc_a, doc_b)) tp
    """


@query("minhash_quality_eval", oracle=_minhash_quality_oracle())
def minhash_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality of the MinHash-LSH approximation, MEASURED against
    exact ground truth — the eval every probabilistic dedup deployment
    owes its users: ``setsim_prefix_join`` (exact global bigram
    Jaccard >= 0.8, lossless AllPairs pruning) is the truth set,
    ``minhash_lsh_neardup`` (32 perms, 8x4 banding, agreement >= 0.5)
    is the system under test, and the report is recall (what fraction
    of true >= 0.8 pairs the LSH surface catches — banding theory
    says ~1-(1-0.8^4)^8 ~= 0.985 before estimation noise) plus
    precision AT the stricter 0.8 truth (LSH pairs below 0.8 are not
    defects — the operator's contract is >= 0.5 — so this column
    reads as threshold alignment, not error rate). All ratios are
    floor-divided integer micros; both inputs are the REGISTERED
    operators called directly, so this eval can never drift from what
    ships.

    Scale: both inputs are key-bounded joins (band keys / prefix
    tokens); the eval itself joins two pair lists on (doc_a, doc_b)
    and reduces to one row. Composing evals from production operators
    — not reimplementations — is the pattern that keeps quality
    dashboards honest at 100 TB.
    """
    truth = (setsim_prefix_join(spark, sf_dir)
             .select("doc_a", "doc_b", F.lit(1).alias("in_t")))
    lsh = (minhash_lsh_neardup(spark, sf_dir)
           .select("doc_a", "doc_b", F.lit(1).alias("in_l")))
    j = truth.join(lsh, ["doc_a", "doc_b"], "full_outer")
    # coalesce + guarded div: over an empty corpus the pair counts
    # are 0 (not NULL-SUMs) and the ratios are undefined (NULL) — the
    # empty_sweep class; ANSI `div` would throw on the 0 denominator.
    return (j.agg(F.coalesce(F.sum("in_t"), F.lit(0)).alias("n_truth"),
                  F.coalesce(F.sum("in_l"), F.lit(0)).alias("n_lsh"),
                  F.coalesce(F.sum(F.col("in_t") * F.col("in_l")),
                             F.lit(0)).alias("n_tp"))
            .select(F.col("n_truth").cast("long").alias("n_truth"),
                    F.col("n_lsh").cast("long").alias("n_lsh"),
                    F.col("n_tp").cast("long").alias("n_tp"),
                    F.expr("CASE WHEN n_truth = 0 THEN NULL "
                           "ELSE n_tp * 1000000L div n_truth END")
                    .alias("recall_micros"),
                    F.expr("CASE WHEN n_lsh = 0 THEN NULL "
                           "ELSE n_tp * 1000000L div n_lsh END")
                    .alias("precision_at08_micros")))


@query(
    "tfidf_source_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), tf AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE tok <> '' GROUP BY source, tok
    ), df AS (
        SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM toks WHERE tok <> '' GROUP BY tok
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    ), scored AS (
        SELECT source, tok, tf, df,
               tf * ((n_docs * 1000000) // df) AS score_micros,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY tf * ((n_docs * 1000000) // df)
                                           DESC, tok) AS rk
        FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT source, tok, tf, df,
           CAST(score_micros AS BIGINT) AS score_micros,
           CAST(rk AS BIGINT) AS rank
    FROM scored WHERE rk <= 5
    ORDER BY source, rank
    """,
)
def tfidf_source_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic terms per source by tf·idf — the corpus-triage
    readout ("what is each source ABOUT?") that complements BM25's
    per-query ranking with a query-free profile. The idf is kept
    rational: score = tf · floor(N·10⁶ / df) in integer micros —
    order-equivalent to tf·(N/df) (log-idf reweights but preserves
    the within-source ranking direction for these magnitudes) and
    bit-exact across engines, where a float log1p would be libm-
    dependent. Top-5 terms per source via the ranked window with a
    deterministic tok tie-break.

    Scale: tf is a (source, tok) aggregate, df a (tok, doc) distinct
    aggregate — both vocabulary-bounded after their shuffles; the
    1-row corpus count broadcasts, and the top-5 window runs on
    vocabulary-grain rows. The corpus is exploded once per aggregate;
    at 100 TB the two explodes fuse into one scan with a grouping-set
    if profiling says the scan dominates.
    """
    d = Catalog(spark, sf_dir).documents
    toks = d.select("doc_id", "source",
                    F.explode(F.split(F.col("text"), " ")).alias("tok"))
    toks = toks.filter(F.col("tok") != "")
    tf = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.join(df, "tok").crossJoin(F.broadcast(n))
              .withColumn("score_micros",
                          F.expr("tf * ((n_docs * 1000000L) div df)")))
    rk = F.row_number().over(
        W.partitionBy("source")
        .orderBy(F.col("score_micros").desc(), "tok"))
    return (scored.withColumn("rank", rk.cast("long"))
            .filter(F.col("rank") <= 5)
            .select("source", "tok", "tf", "df",
                    F.col("score_micros").cast("long").alias("score_micros"),
                    "rank")
            .orderBy("source", "rank"))


def _lsh_configs() -> list[tuple[int, int]]:
    """Banding configurations sweeping the 32-permutation signature:
    (bands, rows) with b*r = 32. Detection thresholds t ~ (1/b)^(1/r):
    4x8 ~= 0.84, 8x4 ~= 0.59, 16x2 ~= 0.25."""
    return [(4, 8), (8, 4), (16, 2)]


def _lsh_banding_oracle() -> str:
    _, _, _, base = _mh_sql_parts()
    # `base` ends with the 8x4 `bands` CTE (unused here — DuckDB
    # doesn't evaluate unreferenced CTEs); per-config band chains are
    # regenerated from the same sig relation.
    parts = []
    for b, r in _lsh_configs():
        band_rows = "\n        UNION ALL\n".join(
            "        SELECT doc_id, {bid} AS band_id,"
            " concat_ws('-', {cols}) AS band_key FROM sig".format(
                bid=i, cols=", ".join(
                    f"mh{i * r + j}" for j in range(r)))
            for i in range(b))
        parts.append(f"""
    bands_{b}x{r} AS (
{band_rows}
    ), cand_{b}x{r} AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_{b}x{r} a JOIN bands_{b}x{r} b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ), stats_{b}x{r} AS (
        SELECT '{b}x{r}' AS config,
               CAST((SELECT COUNT(*) FROM cand_{b}x{r}) AS BIGINT)
                   AS n_candidate_pairs,
               CAST((SELECT COUNT(DISTINCT d) FROM (
                   SELECT doc_a AS d FROM cand_{b}x{r}
                   UNION ALL SELECT doc_b FROM cand_{b}x{r}))
                   AS BIGINT) AS n_docs_involved
    )""")
    unions = "\n    UNION ALL ".join(
        f"SELECT * FROM stats_{b}x{r}" for b, r in _lsh_configs())
    return f"""{base},{','.join(parts)}
    {unions}
    ORDER BY config
    """


@query("lsh_banding_tradeoff_sweep", oracle=_lsh_banding_oracle())
def lsh_banding_tradeoff_sweep(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The MinHash DEPLOYMENT decision, measured: from ONE
    32-permutation signature relation (the shared ``_mh_signatures``
    pipeline — computed once, checkpointed), candidate-pair volume
    under three bandings of the same signature — 4x8 (threshold
    ~0.84, high precision), 8x4 (~0.59, the shipped default), 16x2
    (~0.25, high recall). Candidate count IS the cost model: the
    verify stage pays per candidate, so this sweep prices
    recall-vs-compute before anyone re-signs the corpus — the LSH
    sibling of ``jaccard_threshold_sweep``.

    Scale: signatures are computed once; each config pairs docs
    inside its band buckets (:func:`_mh_bucket_pairs`: bucket-bounded,
    never all-pairs, no join or ``distinct``); the result is three
    rows.
    """
    rows = (_mh_signatures(Catalog(spark, sf_dir).documents)
            .selectExpr("struct(doc_id AS id, s) AS r")
            .localCheckpoint(eager=False))
    out = None
    for b, r in _lsh_configs():
        # Pairs are unique by construction: each pair puts its two
        # docs in two rows.
        docs = (_mh_bucket_pairs(rows, b, r, pair="m.id > r.id",
                                 emit=[("id", "m.id")])
                .select(F.explode(F.array("r.id", "pair.id")).alias("d")))
        stats = (docs.agg(F.expr("count(1) div 2").alias("n_candidate_pairs"),
                          F.countDistinct("d").alias("n_docs_involved"))
                 .select(F.lit(f"{b}x{r}").alias("config"), "*"))
        out = stats if out is None else out.unionByName(stats)
    return out.orderBy("config")


@query(
    "docs_vocab_growth_heaps",
    oracle="""
    WITH toks AS (
        SELECT doc_id, w FROM (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
            FROM documents WHERE doc_id IS NOT NULL) t
        WHERE w <> ''
    ), firsts AS (
        SELECT w, MIN(doc_id) AS first_doc FROM toks GROUP BY w
    ), nw AS (
        SELECT first_doc // 100 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS new_words
        FROM firsts GROUP BY 1
    ), tk AS (
        SELECT doc_id // 100 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM toks GROUP BY 1
    ), base AS (
        SELECT DISTINCT doc_id // 100 AS bucket
        FROM documents WHERE doc_id IS NOT NULL
    )
    SELECT bucket,
           CAST(SUM(COALESCE(n_tokens, 0)) OVER ob AS BIGINT)
               AS cum_tokens,
           CAST(SUM(COALESCE(new_words, 0)) OVER ob AS BIGINT)
               AS cum_vocab
    FROM base LEFT JOIN tk USING (bucket) LEFT JOIN nw USING (bucket)
    WINDOW ob AS (ORDER BY bucket)
    """,
)
def docs_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: cumulative distinct vocabulary vs
    cumulative token count, walked in doc_id order at a 100-doc bucket
    grain — the curve that tells a corpus builder whether more data
    still buys new vocabulary. Exact integers throughout: a word's
    first occurrence is min(doc_id), attributed to that doc's bucket.

    One explode feeds two aggregates (first-occurrence per word,
    tokens per bucket); the cumulative window runs over the BUCKET
    grain — corpus_size/100 rows, never the corpus itself — so the
    global ordered walk is metadata-sized at 100 TB while all
    per-token work stays distributed.
    """
    d = (Catalog(spark, sf_dir).documents
         .filter(F.col("doc_id").isNotNull()))
    toks = (d.select("doc_id", F.explode(_tokens()).alias("w"))
            .filter(F.col("w") != ""))
    bucket = F.expr("doc_id div 100").alias("bucket")
    nw = (toks.groupBy("w").agg(F.min("doc_id").alias("doc_id"))
          .groupBy(bucket).agg(F.count(F.lit(1)).alias("new_words")))
    tk = toks.groupBy(bucket).agg(F.count(F.lit(1)).alias("n_tokens"))
    base = d.select(bucket).distinct()
    ob = W.orderBy("bucket")
    return (base.join(tk, "bucket", "left").join(nw, "bucket", "left")
            .select("bucket",
                    F.sum(F.coalesce("n_tokens", F.lit(0))).over(ob)
                    .cast("long").alias("cum_tokens"),
                    F.sum(F.coalesce("new_words", F.lit(0))).over(ob)
                    .cast("long").alias("cum_vocab")))


@query(
    "tokenizer_fertility_eval",
    oracle=f"""
    WITH words AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS wn
        FROM (SELECT unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok <> '' GROUP BY tok
    ), w0 AS (
        SELECT tok,
               trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) AS spaced,
               wn
        FROM words
    ),{_bpe_round_sql('w0', 'm1', 'w1', carry='tok')},
    {_bpe_round_sql('w1', 'm2', 'w2', carry='tok')},
    {_bpe_round_sql('w2', 'm3', 'w3', carry='tok')},
    per_lang AS (
        SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok <> '' GROUP BY lang, tok
    ), agg AS (
        SELECT lang,
               CAST(SUM(cnt) AS BIGINT) AS total_words,
               CAST(SUM(cnt * len(string_split(w3.spaced, ' ')))
                    AS BIGINT) AS total_pieces
        FROM per_lang JOIN w3 USING (tok)
        GROUP BY lang
    )
    SELECT lang, total_words, total_pieces,
           CAST(total_pieces AS DOUBLE) / CAST(total_words AS DOUBLE)
               AS fertility
    FROM agg
    """,
)
def tokenizer_fertility_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — pieces emitted per
    whitespace word when the corpus-trained BPE tokenizer (the shared
    ``_bpe_rounds`` pipeline, so the merges cannot drift from the
    trainer's) is applied to each language's text. Fertility
    disparity is the standard multilingual-tokenizer equity metric: a
    tokenizer trained on a skewed mix fragments low-resource
    languages into more pieces, inflating their effective compute
    cost per word. Counts are exact BIGINTs; fertility is ONE double
    division of those integers.

    Same factoring as ``bpe_apply_token_counts``: tokenization runs
    on the VOCABULARY (broadcast-sized), the corpus contributes one
    (lang, tok) aggregate, and the fertility table is O(languages).
    """
    w3, _ = _bpe_rounds(_bpe_word_table(spark, sf_dir, carry_tok=True))
    vocab = w3.select(
        "tok", F.size(F.split(F.col("spaced"), " ")).alias("n_syms"))
    d = Catalog(spark, sf_dir).documents
    per_lang = (d.select("lang",
                         F.explode(F.split(F.col("text"), " ")).alias("tok"))
                .where(F.col("tok") != "")
                .groupBy("lang", "tok")
                .agg(F.count(F.lit(1)).alias("cnt")))
    agg = (per_lang.join(F.broadcast(vocab), "tok")
           .groupBy("lang")
           .agg(F.sum("cnt").alias("total_words"),
                F.sum(F.col("cnt") * F.col("n_syms"))
                .alias("total_pieces")))
    return agg.select(
        "lang", "total_words", "total_pieces",
        (F.col("total_pieces").cast("double")
         / F.col("total_words").cast("double")).alias("fertility"))
