"""Vector similarity search over the `embeddings` table.

Embeddings are ``array<float>`` columns; all arithmetic casts to
double first (float→double widening is bit-exact) and accumulates as
a sequential left fold, the JVM ``aggregate(zip_with(...))`` of
:func:`dot` / :func:`cosine` / :func:`l2sq` (see the scoring section
below for the one Arrow kernel that replicates it). The sequential
sum over a 64-element array is deterministic, and DuckDB's list
functions fold the same way, so cosine values round-trip the oracle
after a guard rounding to 6 decimals — a quantum wide enough to
absorb the ~1e-12 accumulation differences between our fold and
DuckDB's list kernels; thresholds always compare the ROUNDED value so
set membership agrees whenever the rounded scores do.

Scale story:
- brute-force top-k vs ONE query vector is a broadcast of 64 floats +
  a map-side TopK (TakeOrderedAndProject): no shuffle of the corpus,
  perfectly scalable.
- all-pairs near-dup groups the vectors into banded-LSH buckets, a key
  independent of any data column, in one shuffle and pairs them
  inside each bucket: work is quadratic in bucket fill, never in the
  corpus.
- the LSH variant buckets by random-hyperplane sign bits: candidate
  generation becomes an equi-join on the bucket key — the 100 TB
  path; its recall/precision is probabilistic, so it's a rows-only
  check with the brute-force twin as the oracle-checked baseline.
"""

from __future__ import annotations

import json
from decimal import ROUND_HALF_UP, Decimal
from typing import Callable, Iterator, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import (Column, DataFrame, SparkSession,
                         Window as W, functions as F)
from pyspark.sql.types import (DoubleType, LongType, StructField,
                               StructType)

from ..catalog import Catalog
from . import query


# The folds below take SQL text of their inputs (a column name or an
# expression over the row, e.g. "slice(embedding, 1, 16)") and build
# with ONE ``F.expr``: the same fold built from PySpark Column calls
# cost 27 ms (dot) to 88 ms (cosine) of CPU per call, since every
# Column call makes JVM round trips. Their lambda variables are x, y, acc, t,
# aa, bb, s and p, so an input column with one of those names would be
# shadowed.


def _dot_sql(a: str, b: str, finish: str = "") -> str:
    """Sequential-fold dot product, each element cast to DOUBLE first:
    ((0.0 + a0*b0) + a1*b1) + ... ``finish`` is an optional
    ``", name -> expr"`` finish lambda."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, t) -> acc + t"
            f"{finish})")


def _nan_div_sql(num: str, den: str) -> str:
    """``num / den``, NaN where ``den`` is 0 — the IEEE 0/0 the Arrow
    kernel returns, where ANSI division would raise DIVIDE_BY_ZERO."""
    return (f"CASE WHEN {den} = 0 THEN CAST('NaN' AS DOUBLE) "
            f"ELSE {num} / ({den}) END")


def dot(a: str, b: str) -> Column:
    """Sequential-fold dot product of two numeric arrays (JVM-side)."""
    return F.expr(_dot_sql(a, b))


def cosine(a: str, b: str) -> Column:
    """dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))), in that op order.

    The norms fold first and reach the division as finish-lambda
    values, so each of the three folds runs once per row even though
    the zero test reads the denominator twice. A zero vector scores
    NaN (not an ANSI error), as :data:`_cos_pair` does; DuckDB's
    ``list_cosine_similarity`` returns -1.0 there, so that case is
    outside the oracle contract. A NULL vector or element scores
    NULL."""
    div = _nan_div_sql(_dot_sql(a, b), "sqrt(aa) * sqrt(bb)")
    return F.expr(_dot_sql(a, a, ", aa -> " + _dot_sql(b, b, ", bb -> " + div)))


def _cosine_normed(a: str, b: str, na: str, nb: str) -> Column:
    """:func:`cosine` over precomputed norms ``na`` and ``nb``
    (``sqrt(dot(a, a))``): dot(a,b) / (na * nb), NaN where it is 0/0.
    Callers: ``ann_lsh_multiprobe_topk`` and ``hard_negative_mining``.
    ``embedding_neardup_pairs`` builds the same text from the same two
    helpers inside its pairing lambda."""
    return F.expr(_nan_div_sql(_dot_sql(a, b), f"{na} * {nb}"))


def l2sq(a: str, b: str, lanes: str = "bigint") -> Column:
    """Sequential-fold squared L2 distance, each element cast to
    ``lanes`` first: "bigint" (exact int64, any order would do) or
    "double" (left-assoc from 0.0, the :func:`dot` order)."""
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> "
                  f"CAST(x AS {lanes}) - CAST(y AS {lanes})), "
                  f"CAST(0 AS {lanes}), (acc, t) -> acc + t * t)")


#: DuckDB twin of :func:`cosine` (list_cosine_similarity folds the
#: same dot/norm shape over DOUBLE lists).
COSINE_SQL = "list_cosine_similarity(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def _dlit(x: float) -> str:
    """A float literal DuckDB parses to the identical IEEE-754 double.

    Plain ``repr`` is NOT enough inside a list literal: DuckDB
    unifies bare decimal list elements to one DECIMAL type before any
    ``::DOUBLE[]`` cast, rounding 17-significant-digit coefficients
    in the last ulp (pinned by
    tests/test_conversion_pins.py::test_plane_literals_roundtrip_bitexact).
    A scientific-notation suffix forces DOUBLE from the parser on."""
    r = repr(float(x))
    return r if "e" in r or "E" in r else r + "e0"


def _planes_literal(planes: "np.ndarray") -> str:
    """SQL text of a plane matrix as ONE ``array<array<double>>``
    literal: a JSON string that ``from_json`` parses and constant
    folding turns into a literal (``repr`` digits parse back
    bit-exactly, pinned by
    tests/test_conversion_pins.py::test_planes_json_literal_roundtrip_bitexact)."""
    return (f"from_json('{json.dumps(np.asarray(planes).tolist())}', "
            f"'array<array<double>>')")


def _plane_code(vec: str, planes: "np.ndarray") -> Column:
    """Sign-bit hyperplane code as ONE fused fold: bit i is set when
    ``dot(vec, planes[i]) > 0``. The vector is cast to double once and
    rides in the fold state; the planes fold last-to-first, each
    shifting the code left one bit, so plane i lands on bit i. A NULL
    projection (NULL vector or element) leaves its bit 0."""
    return F.expr(
        f"aggregate({_planes_literal(np.asarray(planes)[::-1])}, "
        f"named_struct('v', transform({vec}, x -> CAST(x AS DOUBLE)), "
        f"'code', 0L), (s, p) -> named_struct('v', s.v, 'code', "
        f"shiftleft(s.code, 1) | IF({_dot_sql('s.v', 'p')} > 0, 1L, 0L)), "
        f"s -> s.code)")


# --- Scoring: fused folds, one Arrow kernel ---------------------------
#
# Vector arithmetic runs as the fused JVM folds above by default:
# ``dot``, ``cosine`` (slice both sides for a prefix, as matryoshka
# does), ``l2sq`` over BIGINT or double lanes, and the plane codes,
# which cast each vector once per row and take their planes as one
# parsed literal. Measured as process-tree CPU (driver, JVM and Python
# workers; PERF.md "One fused vector-scoring path"), the folds tie or
# beat the Arrow pair kernels at every site but the two 50-anchor
# cosine scans, where ``_cos_pair`` won its interleaved A/B and stays.
# There is no dispatcher: each call site's choice between ``cosine``
# and ``_cos_pair`` is the whole decision. PQ's dim-8 subspace
# distances stay a flat unroll (``_l2sq_unrolled``), which beat both
# the fold and a kernel (64+-term unrolls overflow the JIT limits and
# fall back to interpreted eval), and Lloyd assignment keeps its
# argmin kernel.
#
# ``_cos_pair`` keeps the fold's exact IEEE evaluation order:
#
#   - products/sums accumulate LEFT-ASSOCIATIVELY starting from 0.0,
#     exactly like aggregate(zip_with(a, b, x*y), 0.0, acc+x) —
#     ``_seq_dot`` below is that fold, vectorized across rows;
#   - float→double casts happen per element before any arithmetic
#     (float32→float64 widening is bit-exact);
#   - NULL inputs yield NULL outputs (masked Arrow arrays), NaNs flow
#     through IEEE comparisons exactly as the JVM's.

#: rows-per-chunk inside a kernel: bounds temporaries (e.g. the
#: n×k×64 Lloyd distance cube) regardless of Arrow batch size.
_KERNEL_CHUNK = 2048


def _seq_dot(X: "np.ndarray", Y: "np.ndarray") -> "np.ndarray":
    """Row-wise sequential-fold dot product: ((0.0+p0)+p1)+... — the
    exact IEEE order of the JVM ``dot`` fold, vectorized over rows."""
    acc = np.zeros(X.shape[0])
    for j in range(X.shape[1]):
        acc = acc + X[:, j] * Y[:, j]
    return acc


def _stack64(series: "pd.Series") -> "np.ndarray":
    """pd.Series of fixed-width numeric array rows → (n, d) float64."""
    return np.stack(series.to_numpy()).astype(np.float64)


def _masked(vals: "np.ndarray", ok: "np.ndarray") -> "pd.Series":
    """float64 values + validity mask → pandas nullable Float64 series
    (Arrow turns masked slots into proper SQL NULLs, never NaNs)."""
    return pd.Series(pd.arrays.FloatingArray(vals, ~ok))


def _drop_nan_lanes(ok: "np.ndarray", nanres: "np.ndarray",
                    *mats: "np.ndarray") -> None:
    """Fold rows whose STACKED INPUT carries NaN lanes into the NULL
    mask (ADVICE r11): Arrow surfaces a NULL element inside a list as
    NaN before the kernel sees it, and the JVM fold this kernel
    replicates returns SQL NULL for such rows — without this, the NaN
    result would rank FIRST under ORDER BY ... DESC while the fold's
    NULL sorts last. Only rows whose RESULT is already NaN are
    inspected (``nanres``, aligned to the ok-rows), so the clean hot
    path pays one length-n isnan over the result and nothing else;
    legitimately NaN results from clean input (cosine's 0/0) keep
    their NaN. A genuine NaN payload is indistinguishable from a NULL
    element post-Arrow and folds into NULL too — out of contract (the
    catalog's vector lanes are finite by construction). Mutates
    ``ok`` in place."""
    if not nanres.any():
        return
    bad = np.zeros(len(nanres), dtype=bool)
    bad[nanres] = np.logical_or.reduce(
        [np.isnan(m[nanres]).any(axis=1) for m in mats])
    if bad.any():
        ok[np.flatnonzero(ok)[bad]] = False


def _make_cos_pair():
    """Raw cosine of two vector columns, row-wise: dot(a,b) /
    (sqrt(dot(a,a)) * sqrt(dot(b,b))) in that exact op order — the
    JVM ``cosine`` bit for bit (0/0 stays NaN, NULL input stays
    NULL)."""

    @F.pandas_udf(DoubleType())
    def cosp(it: Iterator[Tuple[pd.Series, pd.Series]]
             ) -> Iterator[pd.Series]:
        for sa, sb in it:
            vals = np.zeros(len(sa))
            ok = (sa.notna() & sb.notna()).to_numpy()
            if ok.any():
                X, Y = _stack64(sa[ok]), _stack64(sb[ok])
                with np.errstate(invalid="ignore", divide="ignore"):
                    v = (_seq_dot(X, Y)
                         / (np.sqrt(_seq_dot(X, X))
                            * np.sqrt(_seq_dot(Y, Y))))
                vals[ok] = v
                # 0/0 from CLEAN input keeps its NaN (JVM division
                # semantics); only NaN-lane input rows go NULL.
                _drop_nan_lanes(ok, np.isnan(v), X, Y)
            yield _masked(vals, ok)

    return cosp


def _l2sq_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Exact integer squared-L2 as a small UNROLLED JVM expression —
    for tiny fixed dims (PQ's 8-dim subspaces) where whole-stage
    codegen handles the flat 8-term sum easily and the Arrow kernel's
    per-batch round trip is pure overhead (measured r11: PQ subspace
    scoring ~2x faster unrolled than either the interpreted HOF fold
    or the Arrow kernel; 64+-term unrolls measured WORSE — scoring
    section note). ``try_element_at`` keeps zip_with's null-padding
    semantics instead of an ANSI index error."""
    t = F.try_element_at(a, F.lit(1)) - F.try_element_at(b, F.lit(1))
    acc: Column = t * t
    for j in range(2, dim + 1):
        d = F.try_element_at(a, F.lit(j)) - F.try_element_at(b, F.lit(j))
        acc = acc + d * d
    return acc


#: The one Arrow scoring kernel (one serialized closure per session).
_cos_pair = _make_cos_pair()


@query(
    "cosine_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND({COSINE_SQL.format(a='embedding', b='qv')}, 6) AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 nearest neighbors of vec_id=0 by cosine.

    The baseline ANN oracle: broadcast the query vector, score every
    row map-side, TakeOrderedAndProject keeps 10 per partition then
    10 global — no shuffle of the embedding corpus at any scale.

    A zero vector's cosine is NaN here and -1.0 in DuckDB, where it
    ranks last; Spark orders NaN above every number, so NaN scores are
    dropped before the ranking, as ``embedding_neardup_pairs`` drops
    them before its threshold.
    """
    e = Catalog(spark, sf_dir).embeddings
    q = (e.filter(F.col("vec_id") == 0)
         .select(F.col("embedding").alias("qv")))
    sim = cosine("embedding", "qv")
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", F.round(sim, 6).alias("cos_sim"))
        .filter(~F.isnan("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "embedding_norms_per_label",
    oracle="""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(ROUND(
                sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))) * 1000000)
                AS BIGINT)) AS BIGINT) AS total_norm_micros
    FROM embeddings WHERE embedding IS NOT NULL GROUP BY label
    """,
)
def embedding_norms_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label count and exact-summed L2 norms (micro-units so the
    cross-partition sum is integer-exact). sqrt is IEEE-correctly
    rounded — bit-identical across engines. Rows with a NULL vector
    have no norm and are excluded on both engines (null_sweep)."""
    e = Catalog(spark, sf_dir).embeddings.filter(
        F.col("embedding").isNotNull())
    norm_micros = F.round(
        F.sqrt(dot("embedding", "embedding"))
        * 1_000_000).cast("long")
    return (
        e.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"),
             F.sum(norm_micros).alias("total_norm_micros"))
    )


#: 24 fixed random hyperplanes (deterministic seed), split into 4
#: bands of 6 sign bits each — the banded-LSH candidate scheme for
#: all-pairs near-dup (same banding structure as text.minhash_lsh).
#: Bits-per-band scales with log(corpus) (PERF.md measures the rule:
#: ~log2(corpus)/2 bits keeps candidates/doc flat) — 6 bits matches
#: the benched corpus; at 100 TB you widen further. Plan unchanged.
_NEARDUP_PLANES = np.random.RandomState(29).randn(24, 64)
_NEARDUP_BANDS = 4
_NEARDUP_BAND_BITS = 6
_NEARDUP_BAND_MASK = (1 << _NEARDUP_BAND_BITS) - 1


def _neardup_code(vec: Column) -> Column:
    """Sign bits of the 24 hyperplane projections — same sequential
    left-assoc dot product the DuckDB twin folds, as one fused fold."""
    return _plane_code(vec, _NEARDUP_PLANES)


def _neardup_code_sql(embedding: str = "embedding") -> str:
    """DuckDB twin of :func:`_neardup_code` — identical plane literals
    (:func:`_dlit` so the parsed doubles are bit-exact), identical
    sequential dot product via list_dot_product."""
    terms = []
    for i, p in enumerate(_NEARDUP_PLANES):
        lit = "[" + ", ".join(_dlit(x) for x in p) + "]"
        terms.append(
            f"CASE WHEN list_dot_product(CAST({embedding} AS DOUBLE[]), {lit}) > 0"
            f" THEN {1 << i} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def _neardup_pairs_sql() -> str:
    """Oracle SQL for the banded-LSH near-dup pair set: same band
    extraction ((code >> b*bits) & mask), same exact-cosine verify."""
    band_match = " OR ".join(
        f"(a.code >> {b * _NEARDUP_BAND_BITS}) & {_NEARDUP_BAND_MASK}"
        f" = (b.code >> {b * _NEARDUP_BAND_BITS}) & {_NEARDUP_BAND_MASK}"
        for b in range(_NEARDUP_BANDS))
    cos = COSINE_SQL.format(a="a.embedding", b="b.embedding")
    return f"""
    WITH coded AS (
        SELECT vec_id, embedding, {_neardup_code_sql()} AS code
        FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({cos}, 6) AS cos_sim
    FROM coded a JOIN coded b
      ON a.vec_id < b.vec_id AND ({band_match})
    WHERE ROUND({cos}, 6) >= 0.25
    """


def _bucket_pairs(rows: DataFrame, bands: int, key: str,
                  agrees: Callable[[int], str], pair: str,
                  emit: list[tuple[str, str]]) -> DataFrame:
    """Banded-LSH pairing inside buckets: the one candidate step of the
    near-duplicate operators.

    ``rows`` carries one struct column ``r``. Each row is exploded into
    its ``bands`` band rows and grouped on ``(band, bcode)`` with
    ``collect_list``, where ``bcode`` is the ``key`` SQL over ``r`` and
    ``band``. Each bucket list is exploded once, and every row ``r``
    keeps the bucket-mates ``m`` that satisfy ``pair`` (SQL over ``r``
    and ``m``) in the lowest band where the two agree (``agrees(b)`` is
    the SQL test for band ``b``), so a pair comes from one bucket only:
    no join, no ``distinct``, no re-join to verify. No array holds a
    whole bucket's pairs.

    Returns ``(r, pair)`` rows, ``pair`` a struct of the ``emit``
    ``(name, SQL)`` fields. Work per bucket is quadratic in how full
    the bucket is.
    """
    first_band = ("CASE " + " ".join(
        f"WHEN {agrees(b)} THEN {b}" for b in range(bands - 1))
        + f" ELSE {bands - 1} END")
    fields = ", ".join(f"'{name}', {sql}" for name, sql in emit)
    mates = F.expr(
        f"transform(filter(rs, m -> {pair} AND {first_band} = band), "
        f"m -> named_struct({fields}))")
    buckets = (
        rows.select("r", F.expr(f"explode(sequence(0, {bands - 1}))")
                    .alias("band"))
        .select("r", "band", F.expr(key).alias("bcode"))
        .groupBy("band", "bcode").agg(F.collect_list("r").alias("rs")))
    return (buckets.select("band", "rs", F.explode("rs").alias("r"))
            .select("r", F.explode(mates).alias("pair")))


@query("embedding_neardup_pairs", oracle=_neardup_pairs_sql())
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH.

    One scan, one shuffle, no join: :func:`_bucket_pairs` over each
    vector's ``(vec_id, v, norm, code)`` struct, 4 bands keyed on the
    band's code bits, a key independent of any data column (a
    fixed-cardinality key such as `label` would make every bucket grow
    with the corpus). Each vector keeps its larger-``vec_id``
    bucket-mates in the lowest band where the two codes agree, and the
    rounded cosine is computed in the emitted struct: one fold per
    candidate.

    Each vector crosses the shuffle once per band, so the traced
    ``llm-pipeline`` pass writes 572 KB of shuffle where the join plan
    wrote 72 KB. At scale this replaces a sort-merge re-join that would
    carry one vector per candidate: at sf0.01, 8,191 bucket matches
    against 2,000 band rows. Work per bucket stays quadratic in how
    full the bucket is.

    A zero vector's cosine is NaN here and -1.0 in DuckDB; its pairs
    are dropped, as the oracle's threshold drops them. The DuckDB
    oracle computes the identical code/bands/verify, so the match is
    exact, not probabilistic.
    """
    e = Catalog(spark, sf_dir).embeddings.filter(
        F.col("embedding").isNotNull())
    vec = e.select(F.struct(
        "vec_id", F.col("embedding").alias("v"),
        F.sqrt(dot("embedding", "embedding")).alias("norm"),
        _neardup_code("embedding").alias("code")).alias("r"))
    score = _nan_div_sql(_dot_sql("r.v", "m.v"), "r.norm * m.norm")
    return (
        _bucket_pairs(
            vec, _NEARDUP_BANDS,
            key=f"(r.code >> (band * {_NEARDUP_BAND_BITS}))"
                f" & {_NEARDUP_BAND_MASK}",
            agrees=lambda b: f"(((r.code ^ m.code) >> {b * _NEARDUP_BAND_BITS})"
                             f" & {_NEARDUP_BAND_MASK}) = 0",
            pair="m.vec_id > r.vec_id",
            emit=[("vec_b", "m.vec_id"),
                  ("cos_sim", f"round({score}, 6)")])
        .select(F.col("r.vec_id").alias("vec_a"), "pair.vec_b", "pair.cos_sim")
        # Spark orders NaN above every number; a zero vector's NaN
        # score is not a near-duplicate (DuckDB scores it -1.0).
        .filter((F.col("cos_sim") >= 0.25) & ~F.isnan("cos_sim"))
    )


#: The 8-hyperplane family shared by the single- and multi-probe LSH
#: queries: 8 sign bits → 256 buckets. Fixed literals (deterministic
#: seed) so the DuckDB oracle can fold the identical doubles.
_ANN_PLANES = np.random.RandomState(13).randn(8, 64)


def _ann_bucket_code(vec: Column) -> Column:
    """Sign-bit bucket code of the 8 ANN hyperplane projections —
    same fused fold as :func:`_neardup_code`."""
    return _plane_code(vec, _ANN_PLANES)


def _ann_bucket_sql(embedding: str = "embedding") -> str:
    """DuckDB twin of :func:`_ann_bucket_code` — identical plane
    literals (:func:`_dlit` round-trips the doubles bit-exactly),
    identical dot product via list_dot_product. The
    :func:`_neardup_code_sql` pattern applied to the ANN family."""
    terms = []
    for i, p in enumerate(_ANN_PLANES):
        lit = "[" + ", ".join(_dlit(x) for x in p) + "]"
        terms.append(
            f"CASE WHEN list_dot_product(CAST({embedding} AS DOUBLE[]), {lit}) > 0"
            f" THEN {1 << i} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def _ann_lsh_topk_sql() -> str:
    """Pipeline-replay oracle for ``ann_lsh_topk``: same bucket codes,
    same in-bucket exact-cosine scoring, same top-3 window."""
    cos = COSINE_SQL.format(a="q.q_vec", b="c.embedding")
    return f"""
    WITH coded AS (
        SELECT vec_id, embedding, {_ann_bucket_sql()} AS bucket
        FROM embeddings WHERE embedding IS NOT NULL
    ), q AS (
        SELECT vec_id AS q_id, embedding AS q_vec, bucket AS q_bucket
        FROM coded WHERE vec_id < 20
    ), cands AS (
        SELECT q.q_id, c.vec_id, ROUND({cos}, 6) AS cos_sim
        FROM q JOIN coded c ON q.q_bucket = c.bucket
        WHERE c.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cos_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY cos_sim DESC, vec_id) AS rn
        FROM cands
    ) WHERE rn <= 3
    """


@query("ann_lsh_topk", oracle=_ann_lsh_topk_sql())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k neighbors via random-hyperplane LSH.

    8 fixed hyperplanes (deterministic seed) → 8 sign bits → 256
    buckets. Query vectors probe only their own bucket, so candidate
    scoring touches ~1/256 of the corpus; the bucket join is a plain
    equi-join on the bucket code. Returns top-3 in-bucket neighbors
    for each of the first 20 query vectors, exact-cosine-scored.

    This is the scale path for similarity search: candidate
    generation cost is O(corpus/buckets) per query instead of
    O(corpus), and multi-probe (flipping low-margin bits) trades
    recall for cost without changing the plan shape.

    Formerly rows-only ("probabilistic recall"); recall vs EXACT
    top-k is indeed probabilistic, but the computed answer is a
    deterministic function of the fixed plane literals, so the DuckDB
    oracle replays the whole pipeline (bucket codes → in-bucket
    cosine → top-3 window) and hash-pins the approximate answer
    itself — the ``embedding_neardup_pairs`` precedent applied to the
    serving path.
    """
    from pyspark.sql import Window as W

    e = Catalog(spark, sf_dir).embeddings.filter(
        F.col("embedding").isNotNull())
    coded = e.select("vec_id", "label", "embedding",
                     _ann_bucket_code("embedding").alias("bucket"))
    queries_df = coded.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("bucket").alias("q_bucket"))
    cands = (
        queries_df.join(coded, F.col("q_bucket") == F.col("bucket"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id",
                F.round(cosine("q_vec", "embedding"), 6).alias("cos_sim"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (cands.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("q_id", "vec_id", "cos_sim"))


def _neardup_edges_sql() -> str:
    """The banded-LSH pair set as (src, dst) edges — the same
    candidate/verify shape as :func:`_neardup_pairs_sql`, usable as a
    CTE body inside the recursive cluster oracle."""
    band_match = " OR ".join(
        f"(a.code >> {b * _NEARDUP_BAND_BITS}) & {_NEARDUP_BAND_MASK}"
        f" = (b.code >> {b * _NEARDUP_BAND_BITS}) & {_NEARDUP_BAND_MASK}"
        for b in range(_NEARDUP_BANDS))
    cos = COSINE_SQL.format(a="a.embedding", b="b.embedding")
    return f"""
        SELECT a.vec_id AS src, b.vec_id AS dst
        FROM coded a JOIN coded b
          ON a.vec_id < b.vec_id AND ({band_match})
        WHERE ROUND({cos}, 6) >= 0.25
    """


def connected_components(edges: DataFrame,
                         max_rounds: int = 16,
                         check_every: int = 2) -> tuple[DataFrame, int]:
    """Min-label connected components with pointer jumping.

    Each round does (1) neighbor-min propagation — every node takes
    the min of its own and its neighbors' labels — and (2) path
    compression — ``label[v] := label[label[v]]`` (valid because
    ``label[u] <= u`` is an invariant: labels start as own ids and
    only decrease, so a label is always a node whose own label is at
    most it). Pointer jumping halves label-chain depth per round, so
    convergence needs O(log diameter) rounds instead of the plain
    propagation's O(diameter) — on a 64-node path graph, 7 rounds
    instead of 63 driver-blocking iterations. The exact convergence
    check (a driver count) runs every ``check_every`` rounds to halve
    blocking round-trips further.

    Each round is two key-partitioned shuffle joins; edges are
    materialized once and reused. localCheckpoint per round truncates
    lineage — without it round N re-executes all N-1 predecessor
    plans and runtime goes exponential.

    Returns (labels, rounds_run); labels has columns (v, cluster_id).
    """
    edges = edges.localCheckpoint()
    labels = (edges.select(F.col("src").alias("v")).distinct()
              .withColumn("cluster_id", F.col("v"))
              .localCheckpoint())
    rounds = 0
    for r in range(max_rounds):
        rounds = r + 1
        neighbor_min = (
            edges.join(labels, edges.dst == labels.v)
            .groupBy("src").agg(F.min("cluster_id").alias("nmin"))
        )
        propagated = (
            labels.join(neighbor_min, labels.v == neighbor_min.src, "left")
            .select(
                "v",
                F.least(F.col("cluster_id"),
                        F.coalesce(F.col("nmin"), F.col("cluster_id")))
                .alias("cluster_id"),
                (F.col("nmin") < F.col("cluster_id")).alias("__changed"))
        )
        # Pointer jumping: follow the label one hop (label-of-label).
        parent = propagated.select(F.col("v").alias("p_v"),
                                   F.col("cluster_id").alias("p_label"))
        updated = (
            propagated.join(parent,
                            propagated.cluster_id == parent.p_v, "left")
            .select(
                "v",
                F.coalesce(F.col("p_label"), F.col("cluster_id"))
                .alias("cluster_id"),
                (F.col("__changed")
                 | (F.coalesce(F.col("p_label"), F.col("cluster_id"))
                    < F.col("cluster_id"))).alias("__changed"))
        ).localCheckpoint()
        labels = updated.drop("__changed")
        if (r + 1) % check_every == 0 or r == max_rounds - 1:
            if updated.filter(F.col("__changed")).limit(1).count() == 0:
                break
    return labels, rounds


@query(
    "neardup_cluster_assignment",
    oracle=f"""
    WITH RECURSIVE coded AS (
        SELECT vec_id, embedding, {_neardup_code_sql()} AS code
        FROM embeddings WHERE embedding IS NOT NULL
    ), pairs AS (
        {_neardup_edges_sql()}
    ), edges AS (
        SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
    ), nodes AS (
        SELECT DISTINCT src AS v FROM edges
    ), reach (v, r) AS (
        SELECT v, v FROM nodes
        UNION
        SELECT reach.v, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    )
    SELECT v AS vec_id, CAST(MIN(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY v
    """,
)
def neardup_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-duplicate graph: every
    vector in a near-dup pair is assigned the minimum vec_id reachable
    through near-dup edges — the cluster id a dedup pass keeps one
    canonical member of.

    Algorithm: min-label propagation with pointer jumping (see
    :func:`connected_components`) — O(log diameter) shuffle rounds.
    The DuckDB oracle computes the same components with a recursive
    CTE — an independent algorithm (transitive closure) reaching the
    same fixpoint.
    """
    pairs = embedding_neardup_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    edges = pairs.union(pairs.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
    labels, _ = connected_components(edges)
    return labels.select(F.col("v").alias("vec_id"), "cluster_id")


@query(
    "sql_macro_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings
               WHERE vec_id = 1 AND embedding IS NOT NULL)
    SELECT vec_id,
           ROUND({COSINE_SQL.format(a='embedding', b='qv')}, 6) AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> 1 AND embedding IS NOT NULL
    ORDER BY cos_sim DESC, vec_id
    LIMIT 5
    """,
)
def sql_macro_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door using the engine's registered SQL macros
    (cosine_sim inlines into Catalyst as pure expressions — same plan
    as the DataFrame twin, authored entirely in SQL)."""
    from ..catalog import register_views
    from ..functions.sql_macros import install_sql_functions
    install_sql_functions(spark)
    register_views(spark, sf_dir, ("embeddings",))
    return spark.sql("""
        WITH q AS (SELECT CAST(embedding AS ARRAY<DOUBLE>) AS qv
                   FROM embeddings
                   WHERE vec_id = 1 AND embedding IS NOT NULL)
        SELECT vec_id,
               ROUND(cosine_sim(CAST(embedding AS ARRAY<DOUBLE>), qv), 6) AS cos_sim
        FROM embeddings, q
        WHERE vec_id <> 1 AND embedding IS NOT NULL
        ORDER BY cos_sim DESC, vec_id
        LIMIT 5
    """)


def _ann_multiprobe_sql() -> str:
    """Pipeline-replay oracle for ``ann_lsh_multiprobe_topk``: the
    9-bucket probe set is the same unnested [bucket, bucket^1, …,
    bucket^128] array, candidates dedup before the top-3 window."""
    cos = COSINE_SQL.format(a="q.q_vec", b="c.embedding")
    probe_list = ", ".join(
        ["q_bucket"] + [f"xor(q_bucket, {1 << i})" for i in range(8)])
    return f"""
    WITH coded AS (
        SELECT vec_id, embedding, {_ann_bucket_sql()} AS bucket
        FROM embeddings WHERE embedding IS NOT NULL
    ), q AS (
        SELECT q_id, q_vec, unnest([{probe_list}]) AS probe_bucket
        FROM (SELECT vec_id AS q_id, embedding AS q_vec,
                     bucket AS q_bucket
              FROM coded WHERE vec_id < 20)
    ), cands AS (
        SELECT DISTINCT q.q_id, c.vec_id, ROUND({cos}, 6) AS cos_sim
        FROM q JOIN coded c ON q.probe_bucket = c.bucket
        WHERE c.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cos_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY cos_sim DESC, vec_id) AS rn
        FROM cands
    ) WHERE rn <= 3
    """


@query("ann_lsh_multiprobe_topk", oracle=_ann_multiprobe_sql())
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: each query probes its own bucket PLUS the 8
    buckets at Hamming distance 1 (one sign bit flipped) — the classic
    recall/cost trade (Lv et al., VLDB'07): ~9× the candidates of
    single-probe, still a tiny fraction of the corpus, and recall
    rises sharply because near neighbors most often differ in exactly
    one low-margin hyperplane bit.

    Plan shape: the probe set is generated by exploding a 9-element
    bucket array per query — candidate generation stays ONE equi-join
    on the bucket code. tests/test_neardup_quality.py measures recall
    against the exact brute-force top-k and pins multi-probe >=
    single-probe. Like ``ann_lsh_topk``, formerly rows-only: the
    answer is a deterministic function of the fixed plane family, so
    the oracle replays codes → probe-set explode → dedup → top-3 and
    hash-pins the approximate answer itself."""
    from pyspark.sql import Window as W

    e = Catalog(spark, sf_dir).embeddings.filter(
        F.col("embedding").isNotNull())
    base = (e.select("vec_id", F.col("embedding").alias("v"))
            .withColumn("norm", F.sqrt(dot("v", "v")))
            .withColumn("bucket", _ann_bucket_code("v")))
    probes = F.array(F.col("bucket"), *[
        F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(8)])
    queries_df = (base.filter(F.col("vec_id") < 20)
                  .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
                          F.col("norm").alias("qnorm"),
                          F.explode(probes).alias("probe_bucket")))
    cands = (
        queries_df.join(base, F.col("probe_bucket") == F.col("bucket"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id",
                F.round(_cosine_normed("qv", "v", "qnorm", "norm"),
                        6).alias("cos_sim"))
        .distinct()
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (cands.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("q_id", "vec_id", "cos_sim"))


@query(
    "embedding_label_centroids",
    oracle="""
    WITH u AS (
        SELECT label,
               unnest(list_transform(generate_series(1, len(embedding)),
                   i -> {'pos': i - 1,
                         'micros': CAST(ROUND(CAST(embedding[i] AS DOUBLE)
                                              * 1000000) AS BIGINT)})) AS e
        FROM embeddings
    )
    SELECT label, CAST(e.pos AS INT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(e.micros) AS BIGINT) AS sum_micros,
           CAST(CAST(SUM(e.micros) AS BIGINT) AS DOUBLE) / COUNT(*)
               AS mean_micros
    FROM u GROUP BY label, e.pos
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, one row per
    (label, dimension) — the primitive under IVF coarse-quantizer
    training (`ann_ivf_topk` runs it per Lloyd round) and
    SemDeDup-style semantic clustering.

    posexplode fans each vector into 64 dimension rows, but partial
    aggregation collapses them map-side: the shuffle carries one
    partial per (label, pos) per task — O(labels × dims × tasks),
    independent of corpus size. Components are rounded to integer
    micros before summing, so the cross-partition sum is exact and
    order-free; the mean divides two exact integers. Output is scalar
    rows, not an array column (the external canonicalizer cannot hash
    arrays), and reassembling vectors is a downstream sort_array over
    (pos, mean) structs when needed.
    """
    e = Catalog(spark, sf_dir).embeddings
    u = e.select(
        "label",
        F.posexplode(F.col("embedding")).alias("pos", "comp"),
    ).select(
        "label", "pos",
        F.round(F.col("comp").cast("double") * 1_000_000)
        .cast("long").alias("micros"),
    )
    return (
        u.groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n_vecs"),
             F.sum("micros").alias("sum_micros"))
        .select("label", "pos", "n_vecs", "sum_micros",
                (F.col("sum_micros").cast("double") / F.col("n_vecs"))
                .alias("mean_micros"))
    )


@query(
    "embedding_int8_quant_error",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings
    ), stats AS (
        SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM e GROUP BY dim
    ), q AS (
        SELECT vec_id, v, mn, mx,
               least(greatest(CAST(floor((v - mn) / (mx - mn) * 255.0 + 0.5)
                                   AS BIGINT), 0), 255) AS qv
        FROM e JOIN stats USING (dim)
    ), err AS (
        SELECT vec_id, qv,
               CAST(floor(abs(v - (mn + qv / 255.0 * (mx - mn))) * 1000000000.0
                          + 0.5) AS BIGINT) AS err_nanos
        FROM q
    )
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_dims,
           CAST(SUM(err_nanos) AS BIGINT) AS sum_abs_err_nanos,
           CAST(MAX(err_nanos) AS BIGINT) AS max_err_nanos,
           CAST(SUM(CASE WHEN qv = 0 OR qv = 255 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_saturated
    FROM err GROUP BY vec_id
    """,
)
def embedding_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 (0..255) min-max quantization with a
    reconstruction-error audit — the storage path for a 100 TB
    embedding store (4x smaller than float32 before the index even
    starts; scalar quantization is the first rung of the IVF/PQ
    ladder). Reports per vector: L1 reconstruction error (nanos),
    worst single-dimension error, and how many dimensions saturated
    the [0,255] range — the three numbers that decide whether scalar
    quantization is safe for a corpus or PQ/fp16 is needed.

    Scale shape: one posexplode to (vec_id, dim, value); per-dim
    min/max is a 64-row partial-aggregated exchange whose result
    BROADCASTS back onto the exploded stream (dims are fixed-width —
    the stats side never grows with the corpus); quantize/dequantize
    are pure IEEE column ops; one final exchange on vec_id. Errors
    are scaled to integer nanos before summing so the per-vector
    aggregate is order-independent (double += is not associative;
    bigint SUM is) — same policy as functions/exact.py. Ties in the
    round go through floor(x + 0.5) explicitly, which both engines
    evaluate identically on IEEE doubles.
    """
    emb = Catalog(spark, sf_dir).embeddings
    e = emb.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double")))
        .alias("dim0", "v"))
    stats = e.groupBy("dim0").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    j = e.join(F.broadcast(stats), "dim0")
    # try_divide: a constant dimension (mx = mn — guaranteed when the
    # corpus is a single vector) has zero range; DuckDB's 0/0 is NULL
    # and both engines' greatest() then clamps NULL -> 0, so the cell
    # quantizes to code 0 instead of ANSI-throwing.
    qv = F.least(
        F.greatest(
            F.floor(F.try_divide(F.col("v") - F.col("mn"),
                                 F.col("mx") - F.col("mn"))
                    * 255.0 + 0.5).cast("long"),
            F.lit(0)),
        F.lit(255))
    deq = F.col("mn") + qv / F.lit(255.0) * (F.col("mx") - F.col("mn"))
    err_nanos = F.floor(F.abs(F.col("v") - deq) * 1000000000.0 + 0.5).cast("long")
    per_dim = j.select("vec_id", qv.alias("qv"), err_nanos.alias("err_nanos"))
    return per_dim.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.sum("err_nanos").alias("sum_abs_err_nanos"),
        F.max("err_nanos").alias("max_err_nanos"),
        F.sum(F.when((F.col("qv") == 0) | (F.col("qv") == 255), 1).otherwise(0))
        .alias("n_saturated"),
    )


@query(
    "centroid_cosine_matrix",
    oracle="""
    WITH u AS (
        SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS micros
        FROM embeddings
    ), cent AS (
        SELECT label, pos, CAST(SUM(micros) AS BIGINT) AS s
        FROM u GROUP BY label, pos
    ), dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               SUM(CAST(a.s AS HUGEINT) * CAST(b.s AS HUGEINT)) AS dot
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        GROUP BY a.label, b.label
    ), norms AS (
        SELECT label,
               SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS n2
        FROM cent GROUP BY label
    )
    SELECT label_a, label_b,
           CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE))
               / sqrt(CAST(nb.n2 AS DOUBLE)) AS cos_sim
    FROM dots
    JOIN norms na ON na.label = label_a
    JOIN norms nb ON nb.label = label_b
    ORDER BY label_a, label_b
    """,
)
def centroid_cosine_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label centroids — the
    inter-cluster geometry report (which classes are confusable, the
    SemDeDup merge candidates). Exact despite being geometry: cosine
    is scale-invariant, so the centroid's 1/n division cancels and
    the whole computation runs on the exact integer component SUMS
    from ``embedding_label_centroids``'s fixed-point policy —
    128-bit lanes for the dot/norm products, then two sqrt and two
    divides (IEEE-754 sqrt is correctly rounded, hence deterministic)
    at the very end.

    Scale: centroid sums are a (labels × dims) aggregate that partial-
    aggregates map-side (corpus-size-independent shuffle); the pair
    join is labels²·dims on a broadcast-sized table. The corpus is
    touched exactly once.
    """
    e = Catalog(spark, sf_dir).embeddings
    cent = (e.select("label",
                     F.posexplode(F.col("embedding")).alias("pos", "comp"))
            .select("label", "pos",
                    F.round(F.col("comp").cast("double") * 1_000_000)
                    .cast("long").alias("micros"))
            .groupBy("label", "pos")
            .agg(F.sum("micros").alias("s")))
    wide = F.col("s").cast("decimal(38,0)")
    a = cent.select(F.col("label").alias("label_a"), "pos", wide.alias("sa"))
    b = cent.select(F.col("label").alias("label_b"),
                    F.col("pos").alias("pos_b"), wide.alias("sb"))
    dots = (a.join(b, (F.col("pos") == F.col("pos_b"))
                   & (F.col("label_a") < F.col("label_b")))
            .groupBy("label_a", "label_b")
            .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot")))
    norms = (cent.groupBy("label")
             .agg(F.sum(wide * wide).alias("n2")))
    na = F.broadcast(norms.select(F.col("label").alias("label_a"),
                                  F.col("n2").alias("na2")))
    nb = F.broadcast(norms.select(F.col("label").alias("label_b"),
                                  F.col("n2").alias("nb2")))
    return (dots.join(na, "label_a").join(nb, "label_b")
            .select("label_a", "label_b",
                    (F.col("dot").cast("double")
                     / F.sqrt(F.col("na2").cast("double"))
                     / F.sqrt(F.col("nb2").cast("double")))
                    .alias("cos_sim"))
            .orderBy("label_a", "label_b"))


@query(
    "embedding_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE coded AS (
        SELECT vec_id, embedding, {_neardup_code_sql()} AS code
        FROM embeddings WHERE embedding IS NOT NULL
    ), pairs AS (
        {_neardup_edges_sql()}
    ), edges AS (
        SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
    ), nodes AS (
        SELECT DISTINCT src AS v FROM edges
    ), reach (v, r) AS (
        SELECT v, v FROM nodes
        UNION
        SELECT reach.v, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    ), clusters AS (
        SELECT v AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY v
    )
    SELECT e.label,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT_IF(c.vec_id IS NULL OR c.cluster_id = e.vec_id)
                AS BIGINT) AS n_survivors,
           CAST(COUNT_IF(c.vec_id IS NOT NULL AND c.cluster_id <> e.vec_id)
                AS BIGINT) AS n_dropped
    FROM embeddings e LEFT JOIN clusters c ON c.vec_id = e.vec_id
    GROUP BY e.label
    """,
)
def embedding_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup dedup OUTCOME: per label, how many embeddings
    survive semantic deduplication (keep the minimum vec_id of each
    near-dup cluster, keep every unclustered vector) and how many are
    dropped. Composes the banded-LSH pair generation and the
    connected-components clustering into the number a curation run
    actually reports — the SemDeDup end state.

    Plan: the cluster table (components only — a small fraction of
    the corpus) LEFT-joins back to the full table on vec_id; survival
    is `cluster_id = vec_id OR unclustered`, a pure integer predicate.
    One extra broadcast-sized join after the clustering passes; the
    corpus scan is shared with the pair generation. The DuckDB twin
    recomputes the whole chain with a recursive CTE, so the composed
    pipeline — LSH codes, banding, exact verify, transitive closure,
    survivor rule — is verified end-to-end as one contract.
    """
    labels = neardup_cluster_assignment(spark, sf_dir).select(
        F.col("vec_id").alias("c_vid"), "cluster_id")
    e = Catalog(spark, sf_dir).embeddings
    joined = e.join(F.broadcast(labels),
                    e.vec_id == F.col("c_vid"), "left")
    survives = (F.col("c_vid").isNull()
                | (F.col("cluster_id") == F.col("vec_id")))
    return (joined.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(survives.cast("long")).alias("n_survivors"),
                 F.sum((~survives).cast("long")).alias("n_dropped")))


@query(
    "knn_join_bruteforce",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qv FROM embeddings
        WHERE vec_id < 8 AND embedding IS NOT NULL
    ), scored AS (
        SELECT q.qid, e.vec_id,
               ROUND({COSINE_SQL.format(a='e.embedding', b='q.qv')}, 6)
                   AS cos_sim
        FROM embeddings e, q WHERE e.vec_id <> q.qid
    ), ranked AS (
        SELECT qid, vec_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
    )
    SELECT qid, vec_id, cos_sim, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 5
    """,
)
def knn_join_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN JOIN: exact cosine top-5 neighbors for EVERY query in
    a batch (vec_id < 8) in one plan — the many-query sibling of
    ``cosine_topk_bruteforce`` and the exact baseline the ANN variants
    trade against.

    Scale shape: the query BATCH broadcasts (bounded — a batch is
    thousands of vectors at most, the corpus is the big side), the
    corpus is scored in one map-side pass per query via
    BroadcastNestedLoopJoin, and the per-query top-k is a window rank
    partitioned by query id — the standard per-group top-k shuffle,
    |Q| keys each carrying the candidate rows. For corpus-sized query
    sets you'd switch to the LSH/IVF operators in this module; this
    operator is the recall=1 anchor they are measured against.
    A query without a vector is not a query (null_sweep audit).
    """
    e = Catalog(spark, sf_dir).embeddings
    q = (e.filter((F.col("vec_id") < 8)
                  & F.col("embedding").isNotNull())
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    sim = cosine("embedding", "qv")
    scored = (e.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("qid"))
              .select("qid", "vec_id", F.round(sim, 6).alias("cos_sim")))
    from pyspark.sql import Window as W
    rn = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id"))
    return (scored.withColumn("rank", rn)
            .filter(F.col("rank") <= 5)
            .select("qid", "vec_id", "cos_sim", "rank"))


#: Fixed Rademacher (+-1) projection matrix, 16 output dims x 64 input
#: dims, deterministic seed — the sparse-JL family (Achlioptas 2003):
#: E||Px||^2 = k*||x||^2, so distances are preserved up to ~1/sqrt(k)
#: after dividing by k.
_JL_K = 16
_JL_SIGNS = None


def _jl_signs():
    global _JL_SIGNS
    if _JL_SIGNS is None:
        rng = np.random.RandomState(29)
        _JL_SIGNS = rng.choice([-1.0, 1.0], size=(_JL_K, 64))
    return _JL_SIGNS


def _jl_pair_terms_sql(a: str, b: str) -> str:
    """DuckDB twin of the projected squared distance: a left-assoc
    chain of (pa_j - pb_j)^2 terms, each pa_j a list_dot_product
    against the identical sign literals — same fold kernel and
    evaluation order as the Spark side."""
    terms = []
    for row in _jl_signs():
        # ±1.0 is DECIMAL-exact, but route through _dlit anyway so
        # every float-list literal in oracle SQL shares one rule.
        lit = "[" + ", ".join(_dlit(x) for x in row) + "]"
        pa = f"list_dot_product(CAST({a} AS DOUBLE[]), {lit})"
        pb = f"list_dot_product(CAST({b} AS DOUBLE[]), {lit})"
        terms.append(f"(({pa}) - ({pb})) * (({pa}) - ({pb}))")
    return "(" + " + ".join(terms) + ")"


@query(
    "jl_projection_distortion",
    oracle=f"""
    WITH pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               a.embedding AS ea, b.embedding AS eb
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id < 100 AND a.vec_id % 2 = 0
    ), d AS (
        SELECT vec_a, vec_b,
               ROUND(list_dot_product(CAST(ea AS DOUBLE[]), CAST(ea AS DOUBLE[]))
                     - 2e0 * list_dot_product(CAST(ea AS DOUBLE[]), CAST(eb AS DOUBLE[]))
                     + list_dot_product(CAST(eb AS DOUBLE[]), CAST(eb AS DOUBLE[])),
                     6) AS orig_d2,
               ROUND({_jl_pair_terms_sql('ea', 'eb')}, 6) AS proj_d2
        FROM pairs
    )
    SELECT vec_a, vec_b, orig_d2, proj_d2,
           ROUND(proj_d2 / ({_JL_K}e0 * orig_d2), 6) AS ratio
    FROM d
    """,
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (64 -> 16 dims with a
    fixed Rademacher sign matrix) plus the distance-preservation
    audit that justifies using the projected space for cheap
    similarity: for 50 sample pairs, the squared distance in original
    vs projected space and their k-normalized ratio (concentrates
    around 1 with ~1/sqrt(k) spread).

    This is the dimensionality-reduction rung of the vector stack —
    above int8 quantization (4x storage), below LSH codes (1 bit/
    plane): 4x fewer dims with distance guarantees, usable as a
    pre-filter before exact scoring. Determinism: projections are
    sequential folds against +-1.0 literals (the module's proven
    dot-product kernel), distances use the dot-product identity
    ||a-b||^2 = a.a - 2a.b + b.b in one fixed evaluation order, and
    the 16 projected-term squares sum in one left-assoc chain —
    identical on the oracle side, with the module's 6-decimal guard.
    Scale shape: projecting is a map-side pass (k folds per row); the
    audit joins consecutive vec_ids — an equi-join, sample-bounded.
    """
    e = Catalog(spark, sf_dir).embeddings
    a = e.select(F.col("vec_id").alias("vec_a"),
                 F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"),
                 F.col("embedding").alias("eb"))
    pairs = (a.filter((F.col("vec_a") < 100) & (F.col("vec_a") % 2 == 0))
             .join(b, F.col("vec_b") == F.col("vec_a") + 1))
    orig_d2 = F.round(dot("ea", "ea") - F.lit(2.0) * dot("ea", "eb")
                      + dot("eb", "eb"), 6)
    proj_terms = None
    for row in _jl_signs():
        s = "array(" + ", ".join(f"{float(x)!r}D" for x in row) + ")"
        diff = dot("ea", s) - dot("eb", s)
        term = diff * diff
        proj_terms = term if proj_terms is None else proj_terms + term
    proj_d2 = F.round(proj_terms, 6)
    d = pairs.select("vec_a", "vec_b", orig_d2.alias("orig_d2"),
                     proj_d2.alias("proj_d2"))
    return d.withColumn(
        "ratio",
        F.round(F.col("proj_d2") / (F.lit(float(_JL_K)) * F.col("orig_d2")), 6))


@query(
    "ann_recall_contract",
    oracle="""
    WITH nq AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries
        FROM embeddings WHERE vec_id < 10 AND embedding IS NOT NULL
    )
    SELECT t.method, nq.n_queries, t.k, t.passed
    FROM (VALUES
        ('ivf',              CAST(3 AS BIGINT), CAST(1 AS BIGINT)),
        ('lsh_multiprobe',   CAST(3 AS BIGINT), CAST(1 AS BIGINT)),
        ('multiprobe_vs_single', CAST(3 AS BIGINT), CAST(1 AS BIGINT)),
        ('pq_rerank',        CAST(3 AS BIGINT), CAST(1 AS BIGINT)))
        AS t(method, k, passed), nq
    ORDER BY method
    """,
)
def ann_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable recall contract over the ANN operators: one
    plan computes the exact cosine AND exact-L2 top-3 for the 10
    shared query vectors (the recall=1 anchors, brute force), runs
    the IVF, PQ and LSH approximate variants on the same queries, and
    asserts their recall@3 against conservative floors — the
    ``agg_approx_distinct`` bounded-contract pattern, so the
    probabilistic operators stop being driver-invisible.

    Floors are set at well under half the measured recall on the
    driver testdata. Anchors follow each operator's own metric: the
    LSH variants against the exact-cosine top-3 (multi-probe >= 3/30
    vs 0.17+ measured; multi-probe >= single-probe, the Lv et al.
    claim pinned in tests/test_neardup_quality.py); IVF and PQ —
    both integer-L2 quantizers since their full-oracle conversion —
    against the exact-L2 top-3 (IVF >= 15/30 vs 27-29/30 measured at
    sf0.001/0.01/0.1; PQ+rerank >= 10/30 vs 20/30
    measured): a collapsed index or a
    broken bucket join flips ``passed`` to 0 and the driver's hash
    compare catches it, while ordinary data-regeneration variance
    cannot. All comparisons are pure integer hit counts — no float in
    the contract.

    The exact anchors rank over the OBSERVED-vector corpus — the
    same relation every ANN family indexes; an unfiltered anchor
    ranks null-vector rows first (NULL distance, Spark ASC default)
    and deflates every recall count (null_sweep audit).
    """
    from pyspark.sql import Window as W

    e = Catalog(spark, sf_dir).embeddings.filter(
        F.col("embedding").isNotNull())
    q = (e.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    sim = cosine("embedding", "qv")
    scored = (e.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("qid"))
              .select("qid", "vec_id", F.round(sim, 6).alias("cos_sim")))
    rn = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id"))
    exact = (scored.withColumn("rn", rn).filter(F.col("rn") <= 3)
             .select("qid", "vec_id"))

    def hits(ann: DataFrame) -> DataFrame:
        """Integer hit count of an ANN result against the exact set."""
        return (ann.filter(F.col("q_id") < 10)
                .join(exact, (F.col("q_id") == F.col("qid"))
                      & (ann.vec_id == exact.vec_id), "left_semi")
                .agg(F.count(F.lit(1)).alias("n_hits")))

    mp_hits = hits(ann_lsh_multiprobe_topk(spark, sf_dir))
    single_hits = hits(ann_lsh_topk(spark, sf_dir))

    # IVF and PQ are L2 quantizers (integer-L2 since their oracle
    # conversion), so their anchor is the exact-L2 top-3.
    basev = e.select("vec_id", F.col("embedding").alias("v"))
    ql2 = (basev.filter(F.col("vec_id") < 10)
           .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv")))
    l2_scored = (basev.crossJoin(F.broadcast(ql2))
                 .filter(F.col("vec_id") != F.col("qid"))
                 .select("qid", "vec_id",
                         F.round(l2sq("v", "qv", "double"), 6).alias("d")))
    rn_l2 = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("d").asc(), "vec_id"))
    exact_l2 = (l2_scored.withColumn("rn", rn_l2).filter(F.col("rn") <= 3)
                .select(F.col("qid").alias("l2_qid"),
                        F.col("vec_id").alias("l2_vid")))
    def l2hits(ann: DataFrame) -> DataFrame:
        """Integer hit count of an ANN result against the exact-L2 set."""
        return (ann.join(exact_l2, (ann.q_id == exact_l2.l2_qid)
                         & (ann.vec_id == exact_l2.l2_vid), "left_semi")
                .agg(F.count(F.lit(1)).alias("n_hits")))

    ivf_hits = l2hits(ann_ivf_topk(spark, sf_dir))
    pq_hits = l2hits(ann_pq_topk(spark, sf_dir))

    # Floors scale with the ACHIEVABLE hit count — the number of rows
    # in each method's own exact-anchor top-k set (30 on the shipped
    # testdata: 10 queries x 3 slots, so the original absolute floors
    # are unchanged there). Over a degenerate corpus the anchor set
    # shrinks or vanishes (0 slots at zero/one vectors — the
    # empty_sweep empty and singleton tiers) and the contract is
    # vacuously satisfied instead of flipping to a spurious failure
    # against the oracle's passed = 1.
    nq = (e.filter(F.col("vec_id") < 10)
          .agg(F.count(F.lit(1)).alias("n_q")))
    ne_cos = exact.agg(F.count(F.lit(1)).alias("n_slots"))
    ne_l2 = exact_l2.agg(F.count(F.lit(1)).alias("n_slots"))

    def row(name: str, h: DataFrame, slots: DataFrame, ok) -> DataFrame:
        return (h.crossJoin(F.broadcast(nq))
                .crossJoin(F.broadcast(slots)).select(
                    F.lit(name).alias("method"),
                    F.col("n_q").cast("long").alias("n_queries"),
                    F.lit(3).cast("long").alias("k"),
                    ok.cast("long").alias("passed")))

    ivf = row("ivf", ivf_hits, ne_l2,
              F.col("n_hits") * 2 >= F.col("n_slots"))
    mp = row("lsh_multiprobe", mp_hits, ne_cos,
             F.col("n_hits") * 10 >= F.col("n_slots"))
    pqr = row("pq_rerank", pq_hits, ne_l2,
              F.col("n_hits") * 3 >= F.col("n_slots"))
    rel = (mp_hits.select(F.col("n_hits").alias("mp_hits"))
           .crossJoin(F.broadcast(single_hits))
           .crossJoin(F.broadcast(nq))
           .select(F.lit("multiprobe_vs_single").alias("method"),
                   F.col("n_q").cast("long").alias("n_queries"),
                   F.lit(3).cast("long").alias("k"),
                   (F.col("mp_hits") >= F.col("n_hits")).cast("long")
                   .alias("passed")))
    return (ivf.unionByName(mp).unionByName(rel).unionByName(pqr)
            .orderBy("method"))


@query(
    "filtered_vector_search",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qv FROM embeddings
        WHERE vec_id < 8 AND embedding IS NOT NULL
    ), scored AS (
        SELECT q.qid, e.vec_id, e.label,
               ROUND({COSINE_SQL.format(a='e.embedding', b='q.qv')}, 6)
                   AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.qid AND e.label = 3
    ), ranked AS (
        SELECT qid, vec_id, label, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, vec_id) AS rn
        FROM scored
    )
    SELECT qid, vec_id, label, cos_sim FROM ranked WHERE rn <= 3
    """,
)
def filtered_vector_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search — the production retrieval
    shape every vector store ships (pgvector WHERE clauses, qdrant
    payload filters): top-3 cosine neighbors restricted to rows whose
    metadata predicate (label = 3) holds.

    The design point is WHERE the filter runs: pre-filter at the scan
    (predicate pushed to parquet) shrinks the scored set BEFORE any
    vector math, which beats post-filtering an ANN result both in
    cost and in recall (post-filtering top-k from an unfiltered index
    famously returns < k rows when the predicate is selective). With
    a selective predicate the filtered brute force is often CHEAPER
    than an unfiltered ANN probe at 100 TB — the scored row count is
    predicate-bounded, and the scan prunes on the metadata column
    statistics. Exact arithmetic throughout, so unlike the ANN family
    this query is fully oracle-checked.
    A query without a vector is not a query (null_sweep audit).
    """
    from pyspark.sql import Window as W

    e = Catalog(spark, sf_dir).embeddings
    q = (e.filter((F.col("vec_id") < 8)
                  & F.col("embedding").isNotNull())
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    filtered = e.filter(F.col("label") == 3)
    sim = cosine("embedding", "qv")
    scored = (filtered.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("qid"))
              .select("qid", "vec_id", "label",
                      F.round(sim, 6).alias("cos_sim")))
    rn = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "vec_id"))
    return (scored.withColumn("rn", rn).filter(F.col("rn") <= 3)
            .select("qid", "vec_id", "label", "cos_sim"))


@query(
    "mmr_diversified_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    pool AS (
        SELECT vec_id, embedding,
               ROUND({COSINE_SQL.format(a='embedding', b='qv')}, 6) AS qsim
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY qsim DESC, vec_id LIMIT 8
    ),
    pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b,
               ROUND({COSINE_SQL.format(a='a.embedding', b='b.embedding')}, 6)
                   AS psim
        FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
    ),
    sel1 AS (SELECT CAST(1 AS BIGINT) AS step, vec_id, qsim,
                    qsim AS mmr_score
             FROM pool ORDER BY qsim DESC, vec_id LIMIT 1),
    sc2 AS (
        SELECT p.vec_id, p.qsim,
               0.5e0 * p.qsim - 0.5e0 * MAX(pr.psim) AS mmr_score
        FROM pool p JOIN pairs pr ON pr.a = p.vec_id
                                  AND pr.b IN (SELECT vec_id FROM sel1)
        WHERE p.vec_id NOT IN (SELECT vec_id FROM sel1)
        GROUP BY p.vec_id, p.qsim
    ),
    sel2 AS (SELECT CAST(2 AS BIGINT) AS step, vec_id, qsim, mmr_score
             FROM sc2 ORDER BY mmr_score DESC, vec_id LIMIT 1),
    s12 AS (SELECT vec_id FROM sel1 UNION ALL SELECT vec_id FROM sel2),
    sc3 AS (
        SELECT p.vec_id, p.qsim,
               0.5e0 * p.qsim - 0.5e0 * MAX(pr.psim) AS mmr_score
        FROM pool p JOIN pairs pr ON pr.a = p.vec_id
                                  AND pr.b IN (SELECT vec_id FROM s12)
        WHERE p.vec_id NOT IN (SELECT vec_id FROM s12)
        GROUP BY p.vec_id, p.qsim
    ),
    sel3 AS (SELECT CAST(3 AS BIGINT) AS step, vec_id, qsim, mmr_score
             FROM sc3 ORDER BY mmr_score DESC, vec_id LIMIT 1),
    s123 AS (SELECT vec_id FROM s12 UNION ALL SELECT vec_id FROM sel3),
    sc4 AS (
        SELECT p.vec_id, p.qsim,
               0.5e0 * p.qsim - 0.5e0 * MAX(pr.psim) AS mmr_score
        FROM pool p JOIN pairs pr ON pr.a = p.vec_id
                                  AND pr.b IN (SELECT vec_id FROM s123)
        WHERE p.vec_id NOT IN (SELECT vec_id FROM s123)
        GROUP BY p.vec_id, p.qsim
    ),
    sel4 AS (SELECT CAST(4 AS BIGINT) AS step, vec_id, qsim, mmr_score
             FROM sc4 ORDER BY mmr_score DESC, vec_id LIMIT 1)
    SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
    UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4
    """,
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98) — the diversity-aware retrieval step between a vector
    search and an LLM context window: from the top-8 cosine
    candidates of probe vec_id=0, greedily select 4, each maximizing
    lambda*sim(q,d) - (1-lambda)*max_{s in S} sim(d,s) with
    lambda=0.5 (first pick: pure relevance, S empty). Kills the
    "8 near-duplicate passages" failure of plain top-k.

    Scale shape: the expensive part is the candidate top-k
    (map-side TakeOrdered, same as ``cosine_topk_bruteforce``);
    the greedy loop runs on the POOL (k^2 pairwise sims on 8 rows,
    broadcast joins, 3 unrolled argmax steps composed into one lazy
    plan — the ``pagerank_brand_graph`` unroll pattern). Pool size is
    a constant, so MMR adds O(pool^2) work regardless of corpus size.

    Determinism: qsim/psim are guard-rounded to 6 decimals (module
    policy), the MMR combination 0.5*a - 0.5*b is two exact IEEE ops
    on identical inputs, argmax ties break on vec_id via the
    lexicographic struct-max (``argmax_customer_per_nation``
    pattern). The oracle unrolls the same 4 steps as CTEs.
    """
    e = Catalog(spark, sf_dir).embeddings
    q = (e.filter(F.col("vec_id") == 0)
         .select(F.col("embedding").alias("qv")))
    qs = cosine("embedding", "qv")
    # The greedy steps reference this subtree ~66 times once the
    # unroll compounds, and TakeOrdered is NOT an exchange — exchange
    # reuse does not dedupe it, so without truncation the corpus
    # top-k re-executes per reference (measured: 66 copies). A lazy
    # localCheckpoint fixes it: the 8-row pool materializes once and
    # every reference shares the cached RDD. It is not job-free under
    # AQE: the query-vector broadcast beneath it runs one job while
    # the query is built (tests/test_build_jobs.py).
    pool = (e.filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .select("vec_id", "embedding", F.round(qs, 6).alias("qsim"))
            .orderBy(F.col("qsim").desc(), "vec_id")
            .limit(8)).localCheckpoint(eager=False)

    ps = cosine("ea", "eb")
    pa = pool.select(F.col("vec_id").alias("a"),
                     F.col("embedding").alias("ea"))
    pb = pool.select(F.col("vec_id").alias("b"),
                     F.col("embedding").alias("eb"))
    pairs = (pa.join(F.broadcast(pb), F.col("a") != F.col("b"))
             .select("a", "b", F.round(ps, 6).alias("psim")))
    cand = pool.select("vec_id", "qsim")

    def argmax(scored: DataFrame, step: int) -> DataFrame:
        """One-row argmax by (mmr_score desc, vec_id asc) — a single
        lexicographic struct-max aggregate, no global sort."""
        top = scored.agg(F.max(F.struct(
            F.col("mmr_score"), (-F.col("vec_id")).alias("negid"),
            F.col("qsim"))).alias("t"))
        # No candidates -> no pick ROW: the global struct-max over an
        # empty step yields one all-NULL row where the oracle's
        # LIMIT 1 yields nothing (the empty_sweep class; also covers
        # a pool smaller than k). Real picks always have a vec_id.
        return top.select(
            F.lit(step).cast("long").alias("step"),
            (-F.col("t.negid")).cast("long").alias("vec_id"),
            F.col("t.qsim").alias("qsim"),
            F.col("t.mmr_score").alias("mmr_score")).where(
                F.col("vec_id").isNotNull())

    selected = argmax(cand.withColumn("mmr_score", F.col("qsim")), 1)
    for k in (2, 3, 4):
        rem = cand.join(selected.select("vec_id"), "vec_id", "left_anti")
        pen = (pairs.join(
                   F.broadcast(selected.select(F.col("vec_id").alias("b"))),
                   "b")
               .groupBy("a").agg(F.max("psim").alias("maxp")))
        scored = (rem.join(F.broadcast(pen), rem.vec_id == pen.a)
                  .select("vec_id", "qsim",
                          (F.lit(0.5) * F.col("qsim")
                           - F.lit(0.5) * F.col("maxp")).alias("mmr_score")))
        selected = selected.unionByName(argmax(scored, k))
    return selected


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH a AS (
        SELECT vec_id AS aid, label AS alab, embedding AS av
        FROM embeddings WHERE vec_id < 16
    ), s AS (
        SELECT a.aid, a.alab, e.vec_id, e.label,
               ROUND({COSINE_SQL.format(a='e.embedding', b='a.av')}, 6)
                   AS sim
        FROM embeddings e, a WHERE e.vec_id <> a.aid
    ), p AS (
        SELECT aid, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY aid
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM s WHERE label = alab
    ), n AS (
        SELECT aid, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY aid
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM s WHERE label <> alab
    )
    SELECT a.aid AS anchor_id, a.alab AS anchor_label,
           p.vec_id AS pos_id, p.sim AS pos_sim,
           n.vec_id AS neg_id, n.sim AS neg_sim,
           p.sim - n.sim AS margin
    FROM a JOIN p ON p.aid = a.aid AND p.rn = 1
           JOIN n ON n.aid = a.aid AND n.rn = 1
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining for contrastive training — for each anchor
    (vec_id < 16): the POSITIVE (nearest same-label neighbor) and the
    HARD NEGATIVE (nearest different-label neighbor — the most
    confusable imposter, which carries ~all of the gradient signal in
    triplet/InfoNCE losses), plus the margin pos_sim - neg_sim whose
    sign says whether the triplet is currently violated.

    Scale shape: anchors broadcast (a training batch is small), the
    corpus is scanned once map-side, and both argmaxes are ONE
    aggregate via conditional lexicographic struct-max — no corpus
    shuffle, no per-anchor sort. At 100 TB the same plan serves
    in-batch mining directly; full-corpus mining first restricts
    candidates through the LSH band join (``embedding_neardup_pairs``
    machinery) and applies this exact argmax to the bucketed
    candidates. Determinism: round-6 sims, vec_id tiebreak, and the
    margin is one exact IEEE subtraction of identical inputs.
    """
    e = Catalog(spark, sf_dir).embeddings
    # Factor the norms out of the per-pair cosine: each corpus row's
    # norm is computed once (not once per anchor) and each anchor's
    # norm broadcasts precomputed — ~3x fewer array folds at identical
    # IEEE arithmetic (dot / (sqrt(aa) * sqrt(bb)), same op order).
    corpus = (e.select("vec_id", "label",
                       F.col("embedding").alias("v"))
              .withColumn("nv", F.sqrt(dot("v", "v"))))
    anchors = (corpus.filter(F.col("vec_id") < 16)
               .select(F.col("vec_id").alias("aid"),
                       F.col("label").alias("alab"),
                       F.col("v").alias("av"),
                       F.col("nv").alias("nav")))
    sim = _cosine_normed("v", "av", "nv", "nav")
    scored = (corpus.crossJoin(F.broadcast(anchors))
              .filter(F.col("vec_id") != F.col("aid"))
              .select("aid", "alab", "vec_id", "label",
                      F.round(sim, 6).alias("sim")))
    pick = lambda cond: F.max(F.when(cond, F.struct(
        F.col("sim").alias("s"), (-F.col("vec_id")).alias("negid"))))
    per = scored.groupBy("aid", "alab").agg(
        pick(F.col("label") == F.col("alab")).alias("pos"),
        pick(F.col("label") != F.col("alab")).alias("neg"))
    # Mirror the oracle's inner joins: an anchor whose label is a
    # corpus singleton (no same-label neighbor) — or, degenerately, a
    # single-label corpus — has no complete triplet and is dropped.
    per = per.filter(F.col("pos").isNotNull() & F.col("neg").isNotNull())
    return per.select(
        F.col("aid").alias("anchor_id"),
        F.col("alab").alias("anchor_label"),
        (-F.col("pos.negid")).alias("pos_id"),
        F.col("pos.s").alias("pos_sim"),
        (-F.col("neg.negid")).alias("neg_id"),
        F.col("neg.s").alias("neg_sim"),
        (F.col("pos.s") - F.col("neg.s")).alias("margin"))


@query(
    "knn_label_eval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, label AS qlab, embedding AS qv
        FROM embeddings WHERE vec_id < 8
    ), ranked AS (
        SELECT q.qid, q.qlab, e.vec_id, e.label,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY ROUND({COSINE_SQL.format(a='e.embedding',
                                                     b='q.qv')}, 6) DESC,
                            e.vec_id) AS rn
        FROM embeddings e, q WHERE e.vec_id <> q.qid
    )
    SELECT qid, CAST(qlab AS INT) AS label,
           CAST(MIN(CASE WHEN label = qlab THEN rn END) AS BIGINT)
               AS first_rel_rank,
           CAST(1000000 // MIN(CASE WHEN label = qlab THEN rn END)
                AS BIGINT) AS rr_micros,
           CAST(SUM(CASE WHEN rn <= 5 AND label = qlab
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_top5
    FROM ranked GROUP BY qid, qlab
    """,
)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality EVAL over the exact kNN ranking — the metric
    layer a vector-search stack ships next to its indexes: per probe,
    the rank of the first same-label neighbor (reciprocal rank in
    exact integer micros — 10^6 div rank — so the eventual MRR mean
    is an order-free integer sum, unlike a float 1/rank whose
    summation order drifts) and the same-label count in the top 5
    (precision@5 numerator). Label match stands in for graded
    relevance; nDCG is deliberately absent — its log2 discount is a
    libm call the determinism policy excludes, and rank-reciprocal
    metrics carry the same signal.

    Scale shape: probes broadcast, corpus scored map-side once, one
    rank window per probe partition, then a probe-cardinality
    aggregate — the eval costs one corpus scan regardless of probe
    count, and swapping the exact ranking for an ANN variant
    (``ann_ivf_topk`` etc.) reuses the identical metric tail.
    """
    from pyspark.sql import Window as W

    e = Catalog(spark, sf_dir).embeddings
    q = (e.filter(F.col("vec_id") < 8)
         .select(F.col("vec_id").alias("qid"),
                 F.col("label").alias("qlab"),
                 F.col("embedding").alias("qv")))
    sim = cosine("embedding", "qv")
    rn = F.row_number().over(
        W.partitionBy("qid").orderBy(F.round(sim, 6).desc(), "vec_id"))
    ranked = (e.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("qid"))
              .select("qid", "qlab", "vec_id", "label", rn.alias("rn")))
    rel_rank = F.min(F.when(F.col("label") == F.col("qlab"),
                            F.col("rn")))
    return (ranked.groupBy("qid", F.col("qlab").alias("label"))
            .agg(rel_rank.alias("first_rel_rank"),
                 F.sum(((F.col("rn") <= 5)
                        & (F.col("label") == F.col("qlab"))).cast("long"))
                 .alias("n_rel_top5"))
            .withColumn("rr_micros",
                        F.expr("1000000 div first_rel_rank"))
            .select("qid", "label", "first_rel_rank", "rr_micros",
                    "n_rel_top5"))


@query(
    "embedding_centroid_drift",
    oracle="""
    WITH v AS (
        SELECT label, vec_id % 2 = 0 AS half_a,
               unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings
    ), sums AS (
        SELECT label, half_a, dim,
               CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * 1000000)
                             AS BIGINT)) AS BIGINT) AS sx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM v GROUP BY label, half_a, dim
    ), cent AS (
        SELECT a.label, a.dim,
               CAST(ROUND(CAST(a.sx AS DOUBLE) / a.n) AS BIGINT)
                   AS ca,
               CAST(ROUND(CAST(b.sx AS DOUBLE) / b.n) AS BIGINT)
                   AS cb,
               a.n AS n_a, b.n AS n_b
        FROM sums a JOIN sums b
          ON a.label = b.label AND a.dim = b.dim
         AND a.half_a AND NOT b.half_a
    )
    SELECT label,
           MAX(n_a) AS n_a, MAX(n_b) AS n_b,
           CAST(SUM((ca - cb) * (ca - cb)) AS BIGINT)
               AS dist2_micros2,
           CAST(MAX(abs(ca - cb)) AS BIGINT) AS max_dim_shift_micros
    FROM cent GROUP BY label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space DRIFT monitor: per label, the squared L2
    distance between the centroids of two halves of the corpus
    (vec_id parity standing in for two snapshot epochs) plus the
    worst single-dimension shift — the check that catches a retrained
    or mis-versioned embedding model before its vectors pollute an
    index built with the old one.

    Exactness without float-sum order problems: each coordinate is
    scaled to integer micros per row (the exact.py policy applied to
    vectors), summed exactly, divided once per (label, half, dim) and
    re-rounded to integer-micro centroids — so the distance is an
    exact INTEGER in micro^2 units and hash-verifies. Scale shape:
    the explode shuffles (label, half, dim, micros) partial sums —
    64·|labels|·2 rows regardless of corpus size — and the centroid
    join is dimension-aligned, metadata-sized.
    """
    e = Catalog(spark, sf_dir).embeddings
    v = (e.select("label", (F.col("vec_id") % 2 == 0).alias("half_a"),
                  F.posexplode(F.col("embedding")).alias("dim0", "x"))
         .select("label", "half_a", (F.col("dim0") + 1).alias("dim"),
                 F.round(F.col("x").cast("double") * 1_000_000)
                 .cast("long").alias("micros")))
    sums = v.groupBy("label", "half_a", "dim").agg(
        F.sum("micros").alias("sx"), F.count(F.lit(1)).alias("n"))
    a = (sums.filter(F.col("half_a"))
         .select("label", "dim",
                 F.round(F.col("sx").cast("double") / F.col("n"))
                 .cast("long").alias("ca"),
                 F.col("n").alias("n_a")))
    b = (sums.filter(~F.col("half_a"))
         .select(F.col("label").alias("lb"), F.col("dim").alias("db"),
                 F.round(F.col("sx").cast("double") / F.col("n"))
                 .cast("long").alias("cb"),
                 F.col("n").alias("n_b")))
    cent = a.join(b, (a.label == b.lb) & (a.dim == b.db))
    d = F.col("ca") - F.col("cb")
    return (cent.groupBy("label")
            .agg(F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"),
                 F.sum(d * d).alias("dist2_micros2"),
                 F.max(F.abs(d)).alias("max_dim_shift_micros")))


def _pca_round_sql(vprev: str, sname: str, wname: str, vname: str) -> str:
    """One DuckDB matrix-free power-iteration round over
    ``em(vec_id, i, em)``: s = e·v per vector, w = Σ e s across the
    corpus, then L∞-normalize v' = round(w * 1e6 / max|w|)."""
    return f"""
    {sname} AS (
        SELECT e.vec_id,
               CAST(FLOOR(CAST(CAST(SUM(e.em * v.v) AS BIGINT) AS DOUBLE)
                          / 1000000.0) AS BIGINT) AS sf
        FROM em e JOIN {vprev} v USING (i)
        GROUP BY e.vec_id
    ), {wname} AS (
        SELECT e.i, CAST(SUM(e.em * s.sf) AS DOUBLE) AS w
        FROM em e JOIN {sname} s USING (vec_id)
        GROUP BY e.i
    ), {vname} AS (
        SELECT w.i, CAST(ROUND(w.w * 1000000.0 / m.m) AS BIGINT) AS v
        FROM {wname} w
        CROSS JOIN (SELECT MAX(ABS(w)) AS m FROM {wname}) m
    )"""


def _half_up(x: float) -> int:
    """Spark's ``round(x)`` on a finite double, as an int."""
    return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _pca_next_iterate(rows) -> list:
    """The next power-iteration iterate from one round's ``(i, w)``
    rows, ordered by ``i``: v = round(w * 1e6 / max|w|), computed as
    Spark computes it — a NULL ``w`` stays NULL (and is skipped by the
    max), no rows give no iterate, and max|w| = 0 raises as ANSI
    Spark's DIVIDE_BY_ZERO does."""
    ws = [w for _, w in sorted(rows, key=lambda r: r[0])]
    m = max((abs(w) for w in ws if w is not None), default=None)
    if m == 0:
        raise ZeroDivisionError("pca_power_iteration: max|w| is 0")
    return [None if w is None else _half_up(w * 1000000.0 / m) for w in ws]


def _pca_tail(rows, n: int) -> list:
    """``pca_power_iteration``'s result rows ``(dim, loading_micros,
    eig_est_micros)``, ordered by ``dim``, from round three's
    ``(i, w)`` rows and the corpus size ``n``, computed as Spark
    computes them: v is :func:`_pca_next_iterate`'s normalization; the
    sign is that of the v with the largest ``|v| * 1000 + (1000 - i)``
    (so the smaller ``i`` wins a ``|v|`` tie), and -1 when every v is
    NULL, as ``max_by(...) >= 0`` is then NULL; and eig_est_micros =
    round(max|w| / n), NULL when every w is NULL."""
    rows = sorted(rows, key=lambda r: r[0])
    v = _pca_next_iterate(rows)
    m = max((abs(w) for _, w in rows if w is not None), default=None)
    top = max(((abs(x) * 1000 + (1000 - i), x)
               for (i, _), x in zip(rows, v) if x is not None),
              default=(None, None))[1]
    s = 1 if top is not None and top >= 0 else -1
    eig = None if m is None else _half_up(m / n)
    return [(i, None if x is None else x * s, eig)
            for (i, _), x in zip(rows, v)]


def _pca_w_pass(e: DataFrame, v: list) -> DataFrame:
    """One corpus pass of ``pca_power_iteration`` against the iterate
    ``v``: the 64-key aggregate ``(i, w, n)`` with
    w[i] = Σ_vec em[i] * floor(em·v / 1e6) and n[i] the rows at key i.
    ``posexplode_outer`` gives each vector exactly one ``i = 1`` row,
    or one ``i IS NULL`` row when its embedding is NULL or empty, so
    n at ``i = 1`` plus n at NULL ``i`` is the corpus size."""
    v_arr = "CAST(array({}) AS ARRAY<BIGINT>)".format(", ".join(
        "NULL" if x is None else f"{x}L" for x in v))
    dot = (f"aggregate(zip_with(em, {v_arr}, (a, b) -> a * b),"
           " 0L, (acc, x) -> acc + x)")
    # sf gets its own projection, so it is computed once per row, not
    # once per element inside the transform lambda below.
    return (e.selectExpr("transform(embedding, x -> CAST(ROUND("
                         "CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))"
                         " AS em")
            .selectExpr("em", f"CAST(FLOOR(CAST({dot} AS DOUBLE)"
                              " / 1000000.0D) AS BIGINT) AS sf")
            .selectExpr("posexplode_outer(transform(em, t -> t * sf))"
                        " AS (p, c)")
            .groupBy(F.expr("p + 1").alias("i"))
            .agg(F.expr("CAST(SUM(CAST(c AS DECIMAL(38,0)))"
                        " AS DOUBLE)").alias("w"),
                 F.count(F.lit(1)).alias("n")))


#: ``pca_power_iteration``'s result: ``dim`` is a vector position, never NULL
_PCA_SCHEMA = StructType([StructField("dim", LongType(), False),
                          StructField("loading_micros", LongType()),
                          StructField("eig_est_micros", LongType())])


@query(
    "pca_power_iteration",
    oracle=f"""
    WITH em AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
                    AS BIGINT) AS em
        FROM embeddings
    ), v0 AS (
        SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS v FROM em
    ),{_pca_round_sql('v0', 's1', 'w1', 'v1')},
    {_pca_round_sql('v1', 's2', 'w2', 'v2')},
    {_pca_round_sql('v2', 's3', 'w3', 'v3')},
    sgn AS (
        SELECT CASE WHEN MAX_BY(v, ABS(v) * 1000 + (1000 - i)) >= 0
                    THEN 1 ELSE -1 END AS s
        FROM v3
    ), eig AS (
        SELECT CAST(ROUND(m.m / n.n) AS BIGINT) AS eig_est_micros
        FROM (SELECT MAX(ABS(w)) AS m FROM w3) m CROSS JOIN
             (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings) n
    )
    SELECT CAST(v3.i AS BIGINT) AS dim,
           CAST(v3.v * sgn.s AS BIGINT) AS loading_micros,
           eig.eig_est_micros
    FROM v3 CROSS JOIN sgn CROSS JOIN eig
    """,
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by MATRIX-FREE
    power iteration — the spectral building block behind whitening,
    ANN rotation, and anisotropy audits. The Gram matrix G = Σ e eᵀ
    is never materialized: each round computes w = Σ_vec e (e·v)
    directly, so a round is one corpus map-pass (per-row dot product
    against the 64-value iterate — a higher-order-function fold, no
    join) followed by a 64-key aggregate. That is the 100 TB design
    choice: the Gram route explodes the corpus ×d² (4096 rows per
    vector); the matrix-free route touches each row 3 times with
    d-bounded work and its only shuffle carries 64 keys, partial-
    aggregated map-side.

    Arithmetic is fixed-point end to end: embedding elements round
    once to integer micros; the dot product is an exact integer fold;
    the corpus sum runs in a DECIMAL(38,0) lane (exact at any corpus
    size — int64 would overflow near 1e9 vectors); normalization is
    v = round(w * 1e6 / max|w|), a fixed double divide and round.

    Feedback: each of the three rounds collects its 64-key aggregate
    alone (:func:`_pca_w_pass`: 64 ``(i, w)`` rows, one shuffle) and
    L∞-normalizes on the driver (:func:`_pca_next_iterate`). The
    driver's division is the same IEEE double operation Spark runs,
    and its HALF_UP rounding of the exact binary value equals Spark's
    ``round`` (HALF_UP of the double's shortest decimal string): a
    ``.5`` tie below 2^52 is itself a double, so no double other than
    the tie can print as it or on its far side. Each round's iterate
    enters the next pass as ONE parsed literal,
    ``CAST(array(v1L, …) AS ARRAY<BIGINT>)``. The corpus size n rides
    in the same aggregate as a per-key row count, so no pass scans
    the corpus for it. The 64-row tail runs on the driver too
    (:func:`_pca_tail`) and the result is a local relation built from
    Arrow: sign is canonicalized by the dominant-|loading| component
    and eig_est_micros = max|w| / n is the Rayleigh-style
    eigenvalue estimate the iteration exposes for free."""
    e = Catalog(spark, sf_dir).embeddings
    v = [1000000] * 64
    for k in range(3):  # each round collects its 64-key aggregate alone
        rows = _pca_w_pass(e, v).collect()
        w = [(r.i, r.w) for r in rows if r.i is not None]
        if k < 2:
            v = _pca_next_iterate(w)
    n = sum(r.n for r in rows if r.i in (None, 1))
    cols = list(zip(*_pca_tail(w, n))) or [()] * len(_PCA_SCHEMA)
    return spark.createDataFrame(
        pa.Table.from_arrays([pa.array(c, type=pa.int64()) for c in cols],
                             names=_PCA_SCHEMA.names),
        schema=_PCA_SCHEMA)


@query(
    "vector_range_search",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qv FROM embeddings
        WHERE vec_id < 8 AND embedding IS NOT NULL
    ), scored AS (
        SELECT q.qid, e.vec_id, e.label,
               ROUND({COSINE_SQL.format(a='e.embedding', b='q.qv')}, 6)
                   AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.qid
    )
    SELECT qid,
           CAST(COUNT_IF(cos_sim >= 0.6) AS BIGINT) AS n_in_radius,
           CAST(COUNT_IF(cos_sim >= 0.8) AS BIGINT) AS n_in_tight,
           MAX(cos_sim) AS best_sim,
           CAST(MIN(CASE WHEN cos_sim >= 0.6 THEN vec_id END)
                AS BIGINT) AS first_neighbor
    FROM scored GROUP BY qid
    ORDER BY qid
    """,
)
def vector_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (radius) vector search — the other retrieval primitive
    beside top-k: all corpus vectors within a similarity radius of
    each query, here summarized per query as neighborhood counts at
    two radii (cos ≥ 0.6, ≥ 0.8), the best similarity, and the
    smallest qualifying id. Radius queries are what dedup and
    clustering pipelines actually issue (a THRESHOLD defines a
    duplicate; k does not), and unlike top-k the result size is
    data-dependent — which is why the operator aggregates the
    neighborhood instead of exploding it.

    Plan: the 8-query batch broadcasts onto one corpus scan (the
    ``knn_join_bruteforce`` shape) — scoring is a single pass, the
    radius predicates are COUNT_IF inside ONE aggregate, no window,
    no sort. Cosines compare via round-to-6 (the similarity family's
    pure-comparison guard; comparisons are float-safe, arithmetic is
    not). The LSH/IVF variants bound the scanned set at 100 TB
    exactly as in the top-k family.
    """
    e = Catalog(spark, sf_dir).embeddings
    # A query without a vector is not a query (its all-NULL predicate
    # column makes Spark's SUM return NULL where COUNT_IF returns 0).
    q = (e.filter((F.col("vec_id") < 8)
                  & F.col("embedding").isNotNull())
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    sim = cosine("embedding", "qv")
    scored = (e.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("qid"))
              .select("qid", "vec_id",
                      F.round(sim, 6).alias("cos_sim")))
    return (scored.groupBy("qid")
            .agg(F.sum((F.col("cos_sim") >= 0.6).cast("long"))
                 .alias("n_in_radius"),
                 F.sum((F.col("cos_sim") >= 0.8).cast("long"))
                 .alias("n_in_tight"),
                 F.max("cos_sim").alias("best_sim"),
                 F.min(F.when(F.col("cos_sim") >= 0.6,
                              F.col("vec_id"))).cast("long")
                 .alias("first_neighbor"))
            .orderBy("qid"))


@query(
    "matryoshka_prefix_recall",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qv FROM embeddings
        WHERE vec_id < 8
    ), full_rank AS (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY ROUND({COSINE_SQL.format(
                       a='e.embedding', b='q.qv')}, 6) DESC,
                            e.vec_id) AS rn
        FROM embeddings e, q WHERE e.vec_id <> q.qid
    ), pfx AS (
        SELECT q.qid, e.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY ROUND({COSINE_SQL.format(
                       a='list_slice(e.embedding, 1, 16)',
                       b='list_slice(q.qv, 1, 16)')}, 6) DESC,
                            e.vec_id) AS rn
        FROM embeddings e, q WHERE e.vec_id <> q.qid
    ), hits AS (
        SELECT f.qid,
               CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM full_rank f JOIN pfx p
          ON p.qid = f.qid AND p.vec_id = f.vec_id
             AND f.rn <= 3 AND p.rn <= 3
        GROUP BY f.qid
    )
    SELECT CAST(COALESCE(SUM(n_overlap), 0) AS BIGINT) AS total_hits,
           CAST(24 AS BIGINT) AS total_slots,
           CAST(1000 * COALESCE(SUM(n_overlap), 0) // 24 AS BIGINT)
               AS recall_millis
    FROM hits
    """,
)
def matryoshka_prefix_recall(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Matryoshka-style PREFIX-dimension retrieval audit — the
    modern embedding-compression question: if we keep only the first
    16 of 64 dimensions (4× cheaper storage and scoring — MRL-trained
    models front-load information exactly for this), how much of the
    exact top-3 neighborhood survives? Both rankings are EXACT
    cosine top-3 (full dims vs prefix dims), so unlike the ANN
    family this measurement is fully oracle-checked: total
    overlapping slots across the 8 query anchors, as exact integers.
    On the fixture's RANDOM embeddings the overlap is near zero —
    the honest adversarial baseline, since random vectors spread
    information uniformly across dimensions; an MRL-trained model
    front-loads it, and this operator is the query that would verify
    that before committing to prefix-serving. (No recall floor is
    asserted: the exact value IS the hash-checked contract.)

    Plan: one corpus scan scores BOTH similarities (the prefix is a
    slice of the same row — no second scan), two per-query top-3
    windows over the 8-key partition, one overlap join on
    (qid, vec_id). At 100 TB the prefix ranking is the cheap first
    pass and the full ranking reranks its shortlist; here both run
    exact to MEASURE what that staging costs in recall.
    """
    from pyspark.sql import Window as W

    e = Catalog(spark, sf_dir).embeddings
    q = (e.filter(F.col("vec_id") < 8)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    full_sim = cosine("embedding", "qv")
    pfx_sim = cosine("slice(embedding, 1, 16)", "slice(qv, 1, 16)")
    scored = (e.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("qid"))
              .select("qid", "vec_id",
                      F.round(full_sim, 6).alias("fs"),
                      F.round(pfx_sim, 6).alias("ps")))
    wq = W.partitionBy("qid")
    ranked = (scored
              .withColumn("rn_full", F.row_number().over(
                  wq.orderBy(F.col("fs").desc(), "vec_id")))
              .withColumn("rn_pfx", F.row_number().over(
                  wq.orderBy(F.col("ps").desc(), "vec_id"))))
    hits = (ranked
            .filter((F.col("rn_full") <= 3) & (F.col("rn_pfx") <= 3))
            .groupBy("qid")
            .agg(F.count(F.lit(1)).alias("n_overlap")))
    return hits.agg(
        F.coalesce(F.sum("n_overlap"), F.lit(0)).cast("long")
        .alias("total_hits"),
        F.lit(24).cast("long").alias("total_slots"),
        F.expr("1000 * coalesce(sum(n_overlap), 0) div 24")
        .cast("long").alias("recall_millis"))


#: nDCG@10 discount table: floor(10^6 / log2(rank+1)). The discounts
#: are FIXED LITERAL CONSTANTS of the metric (like z = 1.96 in the
#: Wilson interval) — no runtime log is ever evaluated, so the
#: libm-free determinism policy holds.
_NDCG_DISCOUNT_MICROS = {1: 1000000, 2: 630930, 3: 500000, 4: 430677,
                         5: 386853, 6: 356207, 7: 333333, 8: 315465,
                         9: 301030, 10: 289065}

_NDCG_SQL_CASE = "CASE rnk " + " ".join(
    f"WHEN {r} THEN {d}" for r, d in _NDCG_DISCOUNT_MICROS.items()
) + " END"


@query(
    "ndcg_at_10_eval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qv, label AS qlabel
        FROM embeddings WHERE vec_id < 8 AND label IS NOT NULL
    ), ranked AS (
        SELECT q.qid,
               CASE WHEN e.label = q.qlabel THEN 1 ELSE 0 END AS rel,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY ROUND({{cos}}, 6) DESC, e.vec_id) AS rnk
        FROM embeddings e, q WHERE e.vec_id <> q.qid
    ), top10 AS (
        SELECT qid, rel, rnk, {_NDCG_SQL_CASE} AS disc
        FROM ranked WHERE rnk <= 10
    ), dcg AS (
        SELECT qid,
               CAST(CAST(SUM(rel * disc) AS BIGINT) AS BIGINT)
                   AS dcg_micros,
               CAST(CAST(SUM(rel) AS BIGINT) AS BIGINT) AS n_rel
        FROM top10 GROUP BY qid
    ), ideal AS (
        SELECT d.qid, d.dcg_micros, d.n_rel,
               CAST(CASE WHEN d.n_rel = 0 THEN 0 ELSE (
                   SELECT SUM(v.d) FROM (VALUES {", ".join(
                       f"({r}, {d})"
                       for r, d in _NDCG_DISCOUNT_MICROS.items())})
                       v(r, d)
                   WHERE v.r <= d.n_rel) END AS BIGINT) AS idcg_micros
        FROM dcg d
    )
    SELECT qid, n_rel, dcg_micros, idcg_micros,
           CAST(CASE WHEN idcg_micros = 0 THEN 0
                ELSE 1000000 * dcg_micros // idcg_micros END
                AS BIGINT) AS ndcg_micros
    FROM ideal
    ORDER BY qid
    """.format(cos=COSINE_SQL.format(a='e.embedding', b='q.qv')),
)
def ndcg_at_10_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 over the exact cosine ranking — the graded-relevance
    retrieval metric completing the eval tail (reciprocal rank and
    precision@k live in ``knn_label_eval``): DCG sums a positional
    discount over relevant hits (relevance = label match), IDCG is
    the best arrangement of the same hits, nDCG their ratio. The
    1/log2(rank+1) discounts enter as FIXED INTEGER LITERALS of the
    metric definition (the Wilson-z precedent) — no runtime
    transcendental, so every lane is exact and the ratio is one
    floor-div in micros.

    One broadcast-query corpus scan, a per-query top-10 window, a
    10-row-per-query reduction; IDCG is a prefix sum over the same
    literal table keyed by the hit count.

    Null semantics (null_sweep audit): graded relevance needs ground
    truth, so unlabeled QUERY vectors are excluded on both engines;
    an unlabeled CORPUS hit is simply irrelevant (rel coalesced to 0
    — a bare equality cast leaves NULL rels whose skipped sums
    desync n_rel from the oracle's CASE ELSE 0).
    """
    from pyspark.sql import Window as W

    e = Catalog(spark, sf_dir).embeddings
    q = (e.filter((F.col("vec_id") < 8) & F.col("label").isNotNull())
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv"),
                 F.col("label").alias("qlabel")))
    sim = cosine("embedding", "qv")
    ranked = (e.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("qid"))
              .select("qid",
                      F.coalesce((F.col("label") == F.col("qlabel"))
                                 .cast("long"), F.lit(0))
                      .alias("rel"),
                      F.round(sim, 6).alias("s"), "vec_id")
              .withColumn("rnk", F.row_number().over(
                  W.partitionBy("qid")
                  .orderBy(F.col("s").desc(), "vec_id")))
              .filter(F.col("rnk") <= 10))
    disc = F.create_map(*[x for r, d in _NDCG_DISCOUNT_MICROS.items()
                          for x in (F.lit(r), F.lit(d))])
    prefix = {0: 0}
    acc = 0
    for r in range(1, 11):
        acc += _NDCG_DISCOUNT_MICROS[r]
        prefix[r] = acc
    idcg = F.create_map(*[x for k, v in prefix.items()
                          for x in (F.lit(k), F.lit(v))])
    dcg = (ranked
           .withColumn("disc", disc[F.col("rnk")])
           .groupBy("qid")
           .agg(F.sum(F.col("rel") * F.col("disc")).alias("dcg_micros"),
                F.sum("rel").alias("n_rel")))
    return (dcg
            .withColumn("idcg_micros",
                        idcg[F.col("n_rel")].cast("long"))
            .select("qid", "n_rel", "dcg_micros", "idcg_micros",
                    F.expr("CASE WHEN idcg_micros = 0 THEN 0"
                           " ELSE 1000000 * dcg_micros div idcg_micros"
                           " END").cast("long").alias("ndcg_micros"))
            .orderBy("qid"))


def _kmeans_round_sql(cents: str, assign: str, out: str) -> str:
    """One DuckDB Lloyd round: assign every vector to its nearest
    centroid (exact integer squared-L2 over micro-scaled lanes,
    lexicographic (dist, cid) tie-break), then recompute each
    centroid as the per-dimension floor-mean of its members via the
    +n*OFF offset trick (Spark `div` truncates, DuckDB `//` floors;
    a positive numerator makes them agree)."""
    dist = ("list_sum([ (ev[i] - cv[i]) * (ev[i] - cv[i]) "
            "for i in range(1, 65) ])")
    sums = ", ".join(f"SUM(ev[{d}]) AS s{d}" for d in range(1, 65))
    means = ", ".join(f"(s{d} + n * 1000000) // n - 1000000"
                      for d in range(1, 65))
    return f"""
    {assign} AS (
        SELECT vec_id, ev, min([d, cid])[2] AS cid
        FROM (SELECT vec_id, ev, cid, {dist} AS d
              FROM (SELECT p.vec_id, p.ev, c.cid, c.c AS cv
                    FROM (SELECT vec_id, e AS ev FROM e) p, {cents} c))
        GROUP BY vec_id, ev
    ), {out}_s AS (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n, {sums}
        FROM {assign} GROUP BY cid
    ), {out} AS (
        SELECT cid, n, [{means}] AS c FROM {out}_s
    )"""


def _kmeans_base_sql() -> str:
    """The shared oracle chain: micro-scaled vectors, seed centroids,
    three Lloyd rounds (c3 = final centroids)."""
    return f"""e AS (
        SELECT vec_id,
               [CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                for x in embedding] AS e
        FROM embeddings WHERE embedding IS NOT NULL
    ), c0 AS (
        SELECT vec_id AS cid, e AS c FROM e WHERE vec_id < 4
    ),{_kmeans_round_sql('c0', 'a1', 'c1')},
    {_kmeans_round_sql('c1', 'a2', 'c2')},
    {_kmeans_round_sql('c2', 'a3', 'c3')}"""


@query(
    "kmeans_lloyd_centroids",
    oracle=f"""
    WITH {_kmeans_base_sql()}
    SELECT CAST(cid AS BIGINT) AS cluster_id,
           CAST(i AS BIGINT) AS dim,
           CAST(c[i] AS BIGINT) AS centroid_micros,
           CAST(n AS BIGINT) AS n_members
    FROM c3, unnest(range(1, 65)) AS r(i)
    ORDER BY cluster_id, dim
    """,
)
def kmeans_lloyd_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means via Lloyd's algorithm, exact-integer and fully
    oracle-checked — the TRAINING step the ANN family's IVF index
    presupposes (``ann_ivf_topk`` seeds centroids and refines once,
    rows-only; this operator is the deterministic trainer whose
    output an oracle can replay bit-for-bit). k=4 centroids seed from
    vec_id < 4, then three unrolled Lloyd rounds: assign each vector
    to the nearest centroid by exact squared L2 over integer-micro
    lanes (float→double→round(1e6) — no float comparison anywhere;
    ties break to the smaller centroid id via lexicographic
    struct-min), recompute centroids as per-dimension floor-means
    (the +n·OFF offset trick keeps Spark's truncating `div` and
    DuckDB's flooring `//` identical on negative sums).

    Scale shape: centroids are a k×64 broadcast (bytes); each round
    is one corpus scan with a 4-row broadcast join and ONE hash
    aggregate computing all 64 dimension sums as separate aggregate
    expressions — no posexplode, so the shuffle carries k rows of 64
    columns, never corpus×64 rows. Per-cluster member counts ride
    the same aggregate. This is exactly how you train an IVF
    codebook on 100 TB: rounds are linear scans, reducer state is
    k×d integers, and more rounds/larger k change only loop bounds.
    Round count is plan-pinned (test_plan_quality).
    """
    e, cents = _kmeans_train(spark, sf_dir)
    return (cents.select(
                F.col("cid").alias("cluster_id"),
                F.posexplode("c").alias("pos", "centroid_micros"),
                F.col("n"))
            .select("cluster_id",
                    (F.col("pos") + 1).cast("long").alias("dim"),
                    "centroid_micros",
                    F.col("n").cast("long").alias("n_members"))
            .orderBy("cluster_id", "dim"))


def _lloyd_round(e: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd round (the plan-pinned primitive): broadcast the
    k-row centroid table against the vector scan, argmin by
    lexicographic (dist, cid) struct-min, then ONE hash aggregate
    computing count + all 64 per-dimension sums as separate aggregate
    expressions (no posexplode — reducer state is k×d integers) and
    the floor-mean via the +n·OFF offset trick."""
    OFF = 1_000_000
    assign = _lloyd_assign(e, cents)
    sums = (assign.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n"),
                 *[F.sum(F.col("e")[d]).alias(f"s{d}")
                   for d in range(64)]))
    return sums.select(
        "cid", "n",
        F.array(*[F.expr(f"(s{d} + n * {OFF}) div n - {OFF}")
                  for d in range(64)]).alias("c"))


def _lloyd_assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (vec_id, e, cid).

    The k-row centroid table is COLLECTED to the driver (bounded:
    k×64 integers — the per-iteration shape of every distributed
    Lloyd implementation, and this module's codebook-collect census
    precedent) and assignment runs as ONE Arrow kernel over a single
    corpus scan: exact integer squared-L2 (int64 — order-free),
    argmin over centroids sorted ascending by cid so equal distances
    take the smaller cid — the former lexicographic (dist, cid)
    struct-min verbatim. This replaces a broadcast crossJoin (k× row
    blowup, interpreted HOF distance per pair) followed by a
    corpus-wide groupBy(vec_id) argmin SHUFFLE: the assignment plan
    is now scan → ArrowEvalPython, with no exchange at all — at
    100 TB each Lloyd round moves k rows instead of the corpus."""
    rows = sorted(cents.select("cid", "c").collect(),
                  key=lambda r: r["cid"])
    if not rows:
        # Degenerate seed (e.g. null-poisoned fixtures): no centroid
        # means no assignment — the crossJoin shape yielded 0 rows.
        return (e.select("vec_id", "e",
                         F.lit(None).cast("long").alias("cid"))
                .where(F.lit(False)))
    cids = np.array([int(r["cid"]) for r in rows], dtype=np.int64)
    cmat = np.array([list(r["c"]) for r in rows], dtype=np.int64)

    @F.pandas_udf(LongType())
    def assign(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for sv in it:
            out = np.empty(len(sv), dtype=np.int64)
            for lo in range(0, len(sv), _KERNEL_CHUNK):
                chunk = sv.iloc[lo:lo + _KERNEL_CHUNK]
                X = np.stack(chunk.to_numpy()).astype(np.int64)
                d = X[:, None, :] - cmat[None, :, :]
                out[lo:lo + len(chunk)] = cids[
                    np.argmin((d * d).sum(axis=2), axis=1)]
            yield pd.Series(out)

    return e.select("vec_id", "e", assign("e").alias("cid"))


def _micro_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e): embeddings as exact integer-micro lanes — the
    shared input representation of the whole k-means/IVF family.

    Rows with a NULL embedding do not exist for this family (a
    missing vector can neither be assigned nor averaged; left in, it
    NULL-poisons every centroid its cluster computes) — excluded
    here and in the oracle chain's base CTE (null_sweep audit)."""
    emb = Catalog(spark, sf_dir).embeddings.filter(
        F.col("embedding").isNotNull())
    return emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> "
               "CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .alias("e"))


def _lloyd_train(e: DataFrame) -> DataFrame:
    """Three Lloyd rounds from the vec_id<4 seed over the given
    vector relation; returns the centroid table (cid, n, c)."""
    cents = (e.filter(F.col("vec_id") < 4)
             .select(F.col("vec_id").cast("long").alias("cid"),
                     F.col("e").alias("c"))
             .localCheckpoint(eager=False))
    for _ in range(3):
        cents = _lloyd_round(e, cents).localCheckpoint(eager=False)
    return cents


def _kmeans_train(spark: SparkSession,
                  sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared k-means trainer: integer-micro embedding table + three
    Lloyd rounds from the vec_id<4 seed. Returns (vectors, centroids)
    so the trainer output and any consumer (cluster profile, IVF
    assignment) derive from one pipeline."""
    e = _micro_vectors(spark, sf_dir)
    return e, _lloyd_train(e)


@query(
    "kmeans_cluster_profile",
    oracle=f"""
    WITH {_kmeans_base_sql()},
    {_kmeans_round_sql('c3', 'a4', 'c4')},
    cl AS (
        SELECT a4.vec_id, a4.cid, emb.label
        FROM a4 JOIN embeddings emb USING (vec_id)
    ), cnt AS (
        SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS n
        FROM cl GROUP BY cid, label
    ), tot AS (
        SELECT cid, SUM(n) AS n_members FROM cnt GROUP BY cid
    ), rk AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cid
                                     ORDER BY n DESC, label) AS r
        FROM cnt
    )
    SELECT CAST(t.cid AS BIGINT) AS cluster_id,
           CAST(t.n_members AS BIGINT) AS n_members,
           CAST(r.label AS INT) AS majority_label,
           CAST(r.n AS BIGINT) AS majority_n,
           CAST(r.n * 1000000 // t.n_members AS BIGINT) AS purity_micros
    FROM tot t JOIN rk r ON r.cid = t.cid AND r.r = 1
    ORDER BY cluster_id
    """,
)
def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained k-means model USED: assign every vector to its
    final centroid (the same ``_kmeans_train`` pipeline as the
    trainer — one source of truth) and profile each cluster against
    the embeddings' label column — size, majority label, and purity
    (majority share in floor-div micros). Purity against an external
    label is the standard quick answer to "did clustering find the
    structure the labels encode, or something else?"; near-uniform
    shares here mean the clusters cut across labels, itself a
    finding. Ties on the majority break to the smaller label id.

    Scale: one extra assignment pass over the corpus (broadcast k×64
    centroids), then label-grain aggregates; the profile is k rows.
    """
    e, cents = _kmeans_train(spark, sf_dir)
    assign = _lloyd_assign(e, cents)
    lab = Catalog(spark, sf_dir).embeddings.select("vec_id", "label")
    cnt = (assign.join(lab, "vec_id")
           .groupBy("cid", "label")
           .agg(F.count(F.lit(1)).alias("n")))
    maj = F.min(F.struct((-F.col("n")).alias("neg"),
                         F.col("label").alias("lab")))
    return (cnt.groupBy("cid")
            .agg(F.sum("n").alias("n_members"), maj.alias("m"))
            .select(F.col("cid").cast("long").alias("cluster_id"),
                    F.col("n_members").cast("long").alias("n_members"),
                    F.col("m.lab").alias("majority_label"),
                    (-F.col("m.neg")).cast("long").alias("majority_n"),
                    F.expr("(-m.neg) * 1000000L div n_members")
                    .alias("purity_micros"))
            .orderBy("cluster_id"))


@query(
    "dot_vs_cosine_rank_agreement",
    oracle=f"""
    WITH anchors AS (
        SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av
        FROM embeddings WHERE vec_id < 3
    ), scored AS (
        SELECT a.anchor_id, e.vec_id,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      a.av), 6) AS dot6,
               ROUND({COSINE_SQL.format(a='e.embedding', b='a.av')}, 6)
                   AS cos6
        FROM embeddings e, anchors a
        WHERE e.vec_id >= 3
    ), ranked AS (
        SELECT anchor_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY anchor_id
                                  ORDER BY dot6 DESC, vec_id) AS r_dot,
               ROW_NUMBER() OVER (PARTITION BY anchor_id
                                  ORDER BY cos6 DESC, vec_id) AS r_cos
        FROM scored
    )
    SELECT anchor_id,
           CAST(SUM(CASE WHEN r_dot <= 10 AND r_cos <= 10
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overlap_top10,
           CAST(MAX(CASE WHEN r_dot = 1 THEN vec_id END) AS BIGINT)
               AS top1_dot_vec,
           CAST(MAX(CASE WHEN r_cos = 1 THEN vec_id END) AS BIGINT)
               AS top1_cos_vec
    FROM ranked
    GROUP BY anchor_id
    ORDER BY anchor_id
    """,
)
def dot_vs_cosine_rank_agreement(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Does the similarity METRIC change the answer? For three anchor
    vectors, every corpus vector is scored by raw dot product AND by
    cosine in one scan, ranked under each (round-6 guard + vec_id
    tie-break, the module's determinism idiom), and the report is
    top-10 overlap plus the top-1 under each metric. Unnormalized
    embeddings make dot favor long vectors — a retrieval deployment
    that switches metrics without re-evaluating inherits silent rank
    churn, and this eval prices it: overlap 10/10 means the switch
    is free; low overlap means re-tune. Same one-scan,
    broadcast-anchor shape as the kNN join; the per-anchor rank
    windows ride one anchor-keyed exchange (WindowGroupLimit keeps
    the shuffle at k rows per group at scale).
    """
    e = Catalog(spark, sf_dir).embeddings
    anchors = (e.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("anchor_id"),
                       F.col("embedding").alias("av")))
    # r12 width-rule row-count clause (VERDICT r11 item 8): with only
    # 3 anchors the scored frame is sub-second and pays TWO Arrow
    # kernel dispatches per row batch (dot + cos); the JVM folds
    # measure 0.42 vs 0.53 s back-to-back, bit-identical rows.
    # ndcg_at_10_eval A/B'd the other way (kernel 0.57 vs fold 0.64 —
    # 8 labeled queries amortize one dispatch) and keeps its kernel.
    scored = (e.filter(F.col("vec_id") >= 3)
              .crossJoin(F.broadcast(anchors))
              .select("anchor_id", "vec_id",
                      F.round(dot("embedding", "av"), 6).alias("dot6"),
                      F.round(cosine("embedding", "av"), 6).alias("cos6")))
    wd = W.partitionBy("anchor_id").orderBy(F.col("dot6").desc(),
                                            "vec_id")
    wc = W.partitionBy("anchor_id").orderBy(F.col("cos6").desc(),
                                            "vec_id")
    ranked = (scored.withColumn("r_dot", F.row_number().over(wd))
              .withColumn("r_cos", F.row_number().over(wc)))
    return (ranked.groupBy("anchor_id")
            .agg(F.sum(F.when((F.col("r_dot") <= 10)
                              & (F.col("r_cos") <= 10), 1).otherwise(0))
                 .cast("long").alias("n_overlap_top10"),
                 F.max(F.when(F.col("r_dot") == 1, F.col("vec_id")))
                 .alias("top1_dot_vec"),
                 F.max(F.when(F.col("r_cos") == 1, F.col("vec_id")))
                 .alias("top1_cos_vec"))
            .orderBy("anchor_id"))


@query(
    "knn_confusion_matrix",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label
        FROM embeddings WHERE vec_id < 50 AND label IS NOT NULL
    ), scored AS (
        SELECT q.qid, q.label AS true_label, e.vec_id, e.label,
               ROUND({COSINE_SQL.format(a='e.embedding', b='q.qv')}, 6)
                   AS cos6
        FROM embeddings e, q
        WHERE e.vec_id >= 50 AND e.label IS NOT NULL
    ), ranked AS (
        SELECT qid, true_label, label,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos6 DESC, vec_id) AS rn
        FROM scored
    ), votes AS (
        SELECT qid, true_label, label,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM ranked WHERE rn <= 3
        GROUP BY qid, true_label, label
    ), pred AS (
        SELECT qid, true_label,
               min([-v, label])[2] AS pred_label
        FROM votes GROUP BY qid, true_label
    )
    SELECT CAST(true_label AS INT) AS true_label,
           CAST(pred_label AS INT) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred
    GROUP BY true_label, pred_label
    ORDER BY true_label, pred_label
    """,
)
def knn_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-classifier confusion matrix — the eval readout the
    retrieval family feeds: 50 held-out query vectors are classified
    by the majority label of their exact cosine top-3 among the
    remaining corpus (ties to the smaller label id via the
    lexicographic [-votes, label] min — integer-exact), and the
    report is the (true, predicted) cell counts — the diagonal is
    accuracy, off-diagonal cells name the confusable classes.
    Complements ``knn_label_eval`` (MRR / precision@5, ranking-level)
    with the decision-level view; per-class precision/recall are
    row/column ratios the consumer derives from the cells.

    Same broadcast-query scan as the kNN join (corpus never
    shuffles); the vote and argmax aggregates run at query grain.

    Null semantics (null_sweep audit): classification eval is over
    LABELED data on both engines — unlabeled queries have no ground
    truth row, and unlabeled corpus vectors cannot vote (left in,
    their NULL label desyncs the two engines' vote-argmax tie
    orders), so both are excluded.
    """
    e = Catalog(spark, sf_dir).embeddings
    q = (e.filter((F.col("vec_id") < 50) & F.col("label").isNotNull())
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv"),
                 F.col("label").alias("true_label")))
    # 50 anchors × corpus: the Arrow kernel won 10/10 interleaved
    # CPU pairs against the fused cosine (PERF.md).
    sim = _cos_pair(F.col("embedding"), F.col("qv"))
    scored = (e.filter((F.col("vec_id") >= 50)
                       & F.col("label").isNotNull())
              .crossJoin(F.broadcast(q))
              .select("qid", "true_label", "vec_id", "label",
                      F.round(sim, 6).alias("cos6")))
    rn = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cos6").desc(), "vec_id"))
    votes = (scored.withColumn("rn", rn)
             .filter(F.col("rn") <= 3)
             .groupBy("qid", "true_label", "label")
             .agg(F.count(F.lit(1)).alias("v")))
    pred = (votes.groupBy("qid", "true_label")
            .agg(F.min(F.struct((-F.col("v")).alias("neg"),
                                F.col("label").alias("lab")))
                 .getField("lab").alias("pred_label")))
    return (pred.groupBy("true_label", "pred_label")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("true_label", "pred_label"))


def _ivf_stage(spark: SparkSession, sf_dir: str) -> str:
    """Build-once staging for the IVF index (VERDICT r4 item 3): the
    k-means codebook plus the per-vector inverted-list assignment,
    persisted as parquet with the assignments PARTITIONED BY centroid
    id — the production serving layout (`sources/bucketed.py` pattern)
    where a probe prunes to its bucket directories at the scan.

    Keyed on the embeddings fingerprint, so regenerated testdata
    re-stages; re-runs are a no-op. The commit is an atomic rename
    (`scratch.stage_atomic`) — concurrent sessions each build a
    private copy, one wins the rename, losers read the winner's;
    the single-writer `_STAGED`-marker protocol this replaces could
    lose a race between the correctness driver and a sweep tool.
    The trainer is the shared exact-integer `_kmeans_train`
    pipeline, so the staged index is bit-reproducible and a SQL
    oracle can replay it from the base table.
    """
    import os

    from ..scratch import (dump_schema, scratch_dir, source_fingerprint,
                           stage_atomic)

    parent = scratch_dir(
        "ivf_index", sf_dir,
        version="v4|" + source_fingerprint(sf_dir, "embeddings.parquet"))

    def build(tmp: str) -> None:
        e, cents = _kmeans_train(spark, sf_dir)
        cb = cents.select("cid", "c")
        cb.write.mode("overwrite").parquet(os.path.join(tmp, "centroids"))
        dump_schema(cb, tmp, "centroids")
        al = _lloyd_assign(e, cents)
        (al.write.mode("overwrite").partitionBy("cid")
         .parquet(os.path.join(tmp, "assignments")))
        dump_schema(al, tmp, "assignments")

    return stage_atomic(os.path.join(parent, "index"), build)


@query(
    "ann_ivf_staged_topk",
    oracle=f"""
    WITH {_kmeans_base_sql()},
    {_kmeans_round_sql('c3', 'a4', 'c4')},
    q AS (
        SELECT vec_id AS q_id, e AS qe FROM e WHERE vec_id < 10
    ), probes AS (
        SELECT q_id, qe, cid FROM (
            SELECT q.q_id, q.qe, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                       list_sum([ (q.qe[i] - c.c[i]) * (q.qe[i] - c.c[i])
                                  for i in range(1, 65) ]), c.cid) AS rn
            FROM q, c3 c
        ) WHERE rn <= 2
    ), cand AS (
        SELECT p.q_id, a.vec_id,
               list_sum([ (p.qe[i] - a.ev[i]) * (p.qe[i] - a.ev[i])
                          for i in range(1, 65) ]) AS d
        FROM probes p JOIN a4 a ON a.cid = p.cid
        WHERE a.vec_id <> p.q_id
    )
    SELECT CAST(q_id AS BIGINT) AS q_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(d AS BIGINT) AS dist2_micros,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT q_id, vec_id, d,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY d, vec_id) AS rn
          FROM cand)
    WHERE rn <= 3
    ORDER BY q_id, rank
    """,
)
def ann_ivf_staged_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe against a PERSISTED index — the production serving
    shape the in-plan demos (`ann_ivf_topk` ×6 scans, `ann_pq_topk`
    ×8) deliberately don't measure (their index build rides the same
    plan; see PERF.md "Deliberately NOT changed"). Here the codebook
    and the inverted lists are staged once by :func:`_ivf_stage`, and
    the MEASURED plan is probe-only:

    1. the k-row codebook is read from the staged parquet and the
       nprobe=2 nearest centroids per query are chosen on the driver
       (a k×nprobe decision over data that is broadcast-sized by
       construction — the codebook IS the broadcast the cluster would
       ship; same documented driver-feedback tier as PCA's 64 floats),
    2. the assignments scan is statically pruned to the probed
       buckets via a partition filter on `cid` (PartitionFilters in
       the plan — at production k, a query batch touches a small
       fraction of the bucket directories),
    3. exact integer squared-L2 rerank inside the probed buckets,
       top-3 per query by (distance, vec_id).

    The plan never rebuilds the index: no Lloyd aggregate, one scan
    of embeddings (the query batch), one scan of each staged table —
    pinned in test_plan_quality. The oracle replays build AND probe
    from the base table through the shared `_kmeans_base_sql` chain
    (assurance-side cost, like minhash_quality_eval's truth replay),
    so the staged index's content is itself hash-verified, not just
    the probe arithmetic.

    Approximation is exact-by-replay: both sides compute the same
    deterministic approximate answer, so the hash pins recall drift
    as well as arithmetic.
    """
    import os

    from ..scratch import read_staged_parquet

    stage = _ivf_stage(spark, sf_dir)
    cents = read_staged_parquet(spark, stage, "centroids")
    emb = Catalog(spark, sf_dir).embeddings
    q = (emb.filter((F.col("vec_id") < 10)
                    & F.col("embedding").isNotNull())
         .select(F.col("vec_id").alias("q_id"),
                 F.expr("transform(embedding, x -> "
                        "CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
                 .alias("qe")))
    d_qc = l2sq("qe", "c")
    rn = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.col("d"), F.col("cid")))
    probes = (q.crossJoin(F.broadcast(cents))
              .select("q_id", "qe", "cid", d_qc.alias("d"))
              .withColumn("rn", rn)
              .filter(F.col("rn") <= 2)
              .select("q_id", "qe", F.col("cid").cast("long").alias("cid")))
    # The probed-bucket set is a driver-side decision over the k-row
    # codebook (k*nprobe values, bounded by k): collected once and
    # pushed into the scan as a STATIC partition filter.
    probed = sorted({r["cid"] for r in probes.select("cid").collect()})
    assigns = (read_staged_parquet(spark, stage, "assignments")
               .filter(F.col("cid").cast("long").isin(probed))
               .select("vec_id", "e", F.col("cid").cast("long").alias("cid")))
    cand = (assigns.join(F.broadcast(probes), "cid")
            .filter(F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id",
                    l2sq("qe", "e").alias("d")))
    rnk = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.col("d"), F.col("vec_id")))
    return (cand.withColumn("rank", rnk)
            .filter(F.col("rank") <= 3)
            .select(F.col("q_id").cast("long").alias("q_id"),
                    F.col("vec_id").cast("long").alias("vec_id"),
                    F.col("d").cast("long").alias("dist2_micros"),
                    F.col("rank").cast("long").alias("rank"))
            .orderBy("q_id", "rank"))


#: Spark text of the SQL-front-door staged-IVF probe (module-level so
#: the plan test can reference the one definition).
_IVF_FRONT_DOOR_SQL = """
    WITH q AS (
        SELECT vec_id AS q_id,
               transform(embedding, x ->
                   CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                   AS qe
        FROM embeddings
        WHERE vec_id >= :q_lo AND vec_id < :q_hi
              AND embedding IS NOT NULL
    ), scored_cents AS (
        SELECT q.q_id, q.qe, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                   aggregate(zip_with(q.qe, c.c,
                                      (x, y) -> (x - y) * (x - y)),
                             0L, (acc, v) -> acc + v), c.cid) AS rn
        FROM q JOIN ivf_centroids c ON true
    ), probes AS (
        SELECT q_id, qe, cid FROM scored_cents WHERE rn <= :nprobe
    ), cand AS (
        SELECT p.q_id, a.vec_id,
               aggregate(zip_with(p.qe, a.e,
                                  (x, y) -> (x - y) * (x - y)),
                         0L, (acc, v) -> acc + v) AS d
        FROM ivf_assignments a JOIN probes p ON a.cid = p.cid
        WHERE a.vec_id <> p.q_id
    ), ranked AS (
        SELECT q_id, vec_id, d,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY d, vec_id) AS rank
        FROM cand
    )
    SELECT CAST(q_id AS BIGINT) AS q_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(d AS BIGINT) AS dist2_micros,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= :k
    ORDER BY q_id, rank
    """


@query(
    "sql_ann_ivf_staged_front_door",
    oracle=f"""
    WITH {_kmeans_base_sql()},
    {_kmeans_round_sql('c3', 'a4', 'c4')},
    q AS (
        SELECT vec_id AS q_id, e AS qe FROM e
        WHERE vec_id >= 10 AND vec_id < 22
    ), probes AS (
        SELECT q_id, qe, cid FROM (
            SELECT q.q_id, q.qe, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                       list_sum([ (q.qe[i] - c.c[i]) * (q.qe[i] - c.c[i])
                                  for i in range(1, 65) ]), c.cid) AS rn
            FROM q, c3 c
        ) WHERE rn <= 2
    ), cand AS (
        SELECT p.q_id, a.vec_id,
               list_sum([ (p.qe[i] - a.ev[i]) * (p.qe[i] - a.ev[i])
                          for i in range(1, 65) ]) AS d
        FROM probes p JOIN a4 a ON a.cid = p.cid
        WHERE a.vec_id <> p.q_id
    )
    SELECT CAST(q_id AS BIGINT) AS q_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(d AS BIGINT) AS dist2_micros,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT q_id, vec_id, d,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY d, vec_id) AS rn
          FROM cand)
    WHERE rn <= 5
    ORDER BY q_id, rank
    """,
)
def sql_ann_ivf_staged_front_door(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """STAGED-IVF vector search through the SQL FRONT DOOR (VERDICT
    r10 item 5, the round-10 curation-manifest precedent applied to
    the serving path): the persisted cid-partitioned index from
    :func:`_ivf_stage` is registered as two views (``ivf_centroids``,
    ``ivf_assignments``) and the probe-only top-k runs as ONE
    ``spark.sql`` statement with Spark 4 named parameters — a
    SQL-only session (a BI tool, a service endpoint) serves vector
    search against this engine with every serving knob (:q_lo/:q_hi
    query batch, :nprobe, :k) arriving as a typed argument.

    The scale contract is the same as ``ann_ivf_staged_topk`` — the
    measured plan must NOT rebuild the index and must NOT scan
    unprobed buckets — but where the DataFrame path collects the
    probed cids and pushes a STATIC partition filter, the SQL path
    has no driver step, so bucket pruning must come from Catalyst's
    DYNAMIC PARTITION PRUNING: the probes subquery is broadcast-sized
    (queries × k centroids, rank-filtered to nprobe), and the join
    ``ivf_assignments a JOIN probes p ON a.cid = p.cid`` reuses that
    broadcast as a dynamicpruningexpression on the partitioned scan's
    PartitionFilters (plan-pinned in test_plan_quality) — the staged
    layout's directory pruning survives the SQL path with zero
    procedural glue. Query batch (vec_id in [10, 22)), nprobe=2 of
    k=4 buckets, top-5 — deliberately distinct bindings from the
    DataFrame twin so the two rows exercise different parameters.

    The oracle replays build AND probe from the base table through
    the shared ``_kmeans_base_sql`` chain (same assurance shape as
    the DataFrame twin): the staged index content is hash-verified,
    and the approximate answer is exact-by-replay.
    """
    from ..catalog import register_views
    from ..scratch import read_staged_parquet

    stage = _ivf_stage(spark, sf_dir)
    register_views(spark, sf_dir, ("embeddings",))
    read_staged_parquet(spark, stage, "centroids") \
        .createOrReplaceTempView("ivf_centroids")
    read_staged_parquet(spark, stage, "assignments") \
        .createOrReplaceTempView("ivf_assignments")
    return spark.sql(_IVF_FRONT_DOOR_SQL,
                     args={"q_lo": 10, "q_hi": 22, "nprobe": 2, "k": 5})


def _ivf_stage_incremental(spark: SparkSession, sf_dir: str) -> str:
    """Incremental-maintenance staging for the IVF index: the
    codebook is trained on the BASE corpus only (vec_id % 10 < 8 —
    the dedup_incremental precedent's split), base assignments are
    written cid-partitioned, and the NEW batch (vec_id % 10 >= 8) is
    then assigned to the EXISTING centroids and appended to the same
    layout — no retraining, no rewrite of the base lists. This is the
    refresh path a 100 TB serving index actually runs: ingest batches
    land as appended files inside their bucket directories, the
    codebook stays frozen between rebuilds, and probe cost is
    unchanged. Same fingerprint keying and marker commit as
    :func:`_ivf_stage`.
    """
    import os

    from ..scratch import (dump_schema, scratch_dir, source_fingerprint,
                           stage_atomic)

    parent = scratch_dir(
        "ivf_incr", sf_dir,
        version="v4|" + source_fingerprint(sf_dir, "embeddings.parquet"))

    def build(tmp: str) -> None:
        e = _micro_vectors(spark, sf_dir)
        base = e.filter(F.col("vec_id") % 10 < 8)
        cents = _lloyd_train(base)
        cb = cents.select("cid", "c")
        cb.write.mode("overwrite").parquet(os.path.join(tmp, "centroids"))
        dump_schema(cb, tmp, "centroids")
        apath = os.path.join(tmp, "assignments")
        ab = _lloyd_assign(base, cents)
        ab.write.mode("overwrite").partitionBy("cid").parquet(apath)
        dump_schema(ab, tmp, "assignments")
        # The incremental append: batch vectors against the FROZEN
        # codebook, appended into the existing bucket directories.
        # Both writes land in the PRIVATE tmp dir; the publish is
        # stage_atomic's single rename, so a probe can never see the
        # base lists without the appended batch.
        batch = e.filter(F.col("vec_id") % 10 >= 8)
        (_lloyd_assign(batch, cents)
         .write.mode("append").partitionBy("cid").parquet(apath))

    return stage_atomic(os.path.join(parent, "index"), build)


_IVF_INCR_DIST = ("list_sum([ (q.qe[i] - a.ev[i]) * (q.qe[i] - a.ev[i]) "
                  "for i in range(1, 65) ])")


@query(
    "ann_ivf_staged_append_probe",
    oracle=f"""
    WITH e_all AS (
        SELECT vec_id,
               [CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                for x in embedding] AS e
        FROM embeddings WHERE embedding IS NOT NULL
    ), e AS (
        SELECT vec_id, e FROM e_all WHERE vec_id % 10 < 8
    ), c0 AS (
        SELECT vec_id AS cid, e AS c FROM e WHERE vec_id < 4
    ),{_kmeans_round_sql('c0', 'a1', 'c1')},
    {_kmeans_round_sql('c1', 'a2', 'c2')},
    {_kmeans_round_sql('c2', 'a3', 'c3')},
    {_kmeans_round_sql('c3', 'a4', 'c4')},
    eb AS (
        SELECT vec_id, e AS ev FROM e_all WHERE vec_id % 10 >= 8
    ), a_batch AS (
        SELECT vec_id, ev, min([d, cid])[2] AS cid
        FROM (SELECT vec_id, ev, cid,
                     list_sum([ (ev[i] - cv[i]) * (ev[i] - cv[i])
                                for i in range(1, 65) ]) AS d
              FROM (SELECT b.vec_id, b.ev, c.cid, c.c AS cv
                    FROM eb b, c3 c))
        GROUP BY vec_id, ev
    ), a_all AS (
        SELECT vec_id, ev, cid FROM a4
        UNION ALL
        SELECT vec_id, ev, cid FROM a_batch
    ), q AS (
        SELECT vec_id AS q_id, e AS qe FROM e_all WHERE vec_id < 10
    ), probes AS (
        SELECT q_id, qe, cid FROM (
            SELECT q.q_id, q.qe, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                       list_sum([ (q.qe[i] - c.c[i]) * (q.qe[i] - c.c[i])
                                  for i in range(1, 65) ]), c.cid) AS rn
            FROM q, c3 c
        ) WHERE rn <= 2
    ), cand AS (
        SELECT p.q_id, a.vec_id, {_IVF_INCR_DIST.replace('q.', 'p.')} AS d
        FROM probes p JOIN a_all a ON a.cid = p.cid
        WHERE a.vec_id <> p.q_id
    )
    SELECT CAST(q_id AS BIGINT) AS q_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(d AS BIGINT) AS dist2_micros,
           CAST(rn AS BIGINT) AS rank,
           vec_id % 10 >= 8 AS from_batch
    FROM (SELECT q_id, vec_id, d,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY d, vec_id) AS rn
          FROM cand)
    WHERE rn <= 3
    ORDER BY q_id, rank
    """,
)
def ann_ivf_staged_append_probe(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Probe over an INCREMENTALLY REFRESHED staged IVF index — the
    maintenance half of the serving story `ann_ivf_staged_topk`
    opens. The staging (:func:`_ivf_stage_incremental`) trains the
    codebook on the base corpus (vec_id %% 10 < 8), then appends the
    new batch's assignments against the FROZEN codebook into the
    existing cid-partitioned layout — refresh cost scales with the
    batch, never the corpus, and the base lists are untouched
    (appended files only). The measured plan is the same probe-only
    shape as the full-build variant (broadcast codebook, static
    probed-bucket partition filter, exact integer L2 rerank); the
    `from_batch` flag proves appended vectors are REACHABLE through
    the probe (value-inspected non-vacuous: batch rows do appear in
    the top-3 at the test SFs — an append that silently landed in
    the wrong bucket directory, or not at all, flips rows and
    hash-fails).

    The oracle replays base-train + frozen-codebook batch assignment
    + probe from the base table, so the refreshed index CONTENT —
    including every appended row's bucket — is hash-verified, not
    just the probe arithmetic."""
    import os

    from ..scratch import read_staged_parquet

    stage = _ivf_stage_incremental(spark, sf_dir)
    cents = read_staged_parquet(spark, stage, "centroids")
    emb = Catalog(spark, sf_dir).embeddings
    q = (emb.filter((F.col("vec_id") < 10)
                    & F.col("embedding").isNotNull())
         .select(F.col("vec_id").alias("q_id"),
                 F.expr("transform(embedding, x -> "
                        "CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
                 .alias("qe")))
    d_qc = l2sq("qe", "c")
    rn = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.col("d"), F.col("cid")))
    probes = (q.crossJoin(F.broadcast(cents))
              .select("q_id", "qe", "cid", d_qc.alias("d"))
              .withColumn("rn", rn)
              .filter(F.col("rn") <= 2)
              .select("q_id", "qe", F.col("cid").cast("long").alias("cid")))
    probed = sorted({r["cid"] for r in probes.select("cid").collect()})
    assigns = (read_staged_parquet(spark, stage, "assignments")
               .filter(F.col("cid").cast("long").isin(probed))
               .select("vec_id", "e", F.col("cid").cast("long").alias("cid")))
    cand = (assigns.join(F.broadcast(probes), "cid")
            .filter(F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id",
                    l2sq("qe", "e").alias("d")))
    rnk = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.col("d"), F.col("vec_id")))
    return (cand.withColumn("rank", rnk)
            .filter(F.col("rank") <= 3)
            .select(F.col("q_id").cast("long").alias("q_id"),
                    F.col("vec_id").cast("long").alias("vec_id"),
                    F.col("d").cast("long").alias("dist2_micros"),
                    F.col("rank").cast("long").alias("rank"),
                    (F.col("vec_id") % 10 >= 8).alias("from_batch"))
            .orderBy("q_id", "rank"))


def _pq_sub_sql() -> str:
    """Shared CTE prefix for the PQ oracle: micro-scaled vectors and
    their 8 subspace slices (8 dims each, 1-based list_slice)."""
    return """e AS (
        SELECT vec_id,
               [CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                for x in embedding] AS e
        FROM embeddings WHERE embedding IS NOT NULL
    ), sub AS (
        SELECT vec_id, t.s, list_slice(e, t.s * 8 + 1, t.s * 8 + 8) AS subv
        FROM e, (SELECT unnest(range(8)) AS s) t
    )"""


_PQ_SUB_DIST = ("list_sum([ (subv[i] - cv[i]) * (subv[i] - cv[i]) "
                "for i in range(1, 9) ])")


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH e AS (
        SELECT vec_id,
               [CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                for x in embedding] AS e
        FROM embeddings WHERE embedding IS NOT NULL
    ), c0 AS (
        SELECT vec_id AS cid, e AS c FROM e WHERE vec_id < 16
    ),{_kmeans_round_sql('c0', 'a1', 'c1')},
    {_kmeans_round_sql('c1', 'a2', 'c2')},
    q AS (
        SELECT vec_id AS q_id, ev AS qe, cid AS qcid
        FROM a2 WHERE vec_id < 10
    ), cand AS (
        SELECT q.q_id, a.vec_id,
               list_sum([ (q.qe[i] - a.ev[i]) * (q.qe[i] - a.ev[i])
                          for i in range(1, 65) ]) AS d
        FROM q JOIN a2 a ON a.cid = q.qcid
        WHERE a.vec_id <> q.q_id
    )
    SELECT CAST(q_id AS BIGINT) AS q_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(d AS BIGINT) AS dist2_micros,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT q_id, vec_id, d,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY d, vec_id) AS rn
          FROM cand)
    WHERE rn <= 3
    ORDER BY q_id, rank
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index built
    IN-PLAN — the teaching/bench twin of the persisted serving path
    (`ann_ivf_staged_topk`): the index build deliberately rides the
    same plan so build+probe cost is measured together (PERF.md
    "Deliberately NOT changed").

    1. seed 16 centroids deterministically (vec_id < 16),
    2. one Lloyd refinement round over exact integer-micro lanes
       (the shared :func:`_lloyd_round` primitive: broadcast k-row
       centroids, ONE hash aggregate with 64 per-dimension sums —
       no posexplode, reducer state is k×d integers),
    3. re-assign to the refined centroids → inverted lists,
    4. each query (vec_id < 10) probes ONLY its own list (nprobe=1):
       candidate scoring touches ~corpus/k vectors per query,
       exact integer squared-L2, top-3 by (distance, vec_id).

    Differentiation from the staged variant: k=16 / 1 round /
    nprobe=1 / in-plan build vs k=4 / 3 rounds / nprobe=2 /
    persisted index.

    Formerly rows-only ("recall is probe-width-dependent") on a
    float-avg Lloyd build; recall vs exact top-k IS probabilistic,
    but the computed answer is a deterministic function of the seed
    rule once the build runs on the module's exact-integer lanes
    (float→micro BIGINT, floor-mean recenter, lexicographic
    (dist, cid) ties) — so the DuckDB oracle replays build AND probe
    through the shared ``_kmeans_round_sql`` chain and hash-pins the
    approximate answer itself, the `ann_lsh_topk` conversion
    precedent applied to the routing-side family.

    At 100 TB the inverted lists would persist partitioned by
    centroid id so probes prune to bucket directories at the scan —
    exactly what `ann_ivf_staged_topk` stages and measures.
    """
    e = _micro_vectors(spark, sf_dir)
    c0 = (e.filter(F.col("vec_id") < 16)
          .select(F.col("vec_id").cast("long").alias("cid"),
                  F.col("e").alias("c"))
          .localCheckpoint(eager=False))
    c1 = _lloyd_round(e, c0).localCheckpoint(eager=False)
    inverted = _lloyd_assign(e, c1).localCheckpoint(eager=False)
    q = (inverted.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("e").alias("qe"),
                 F.col("cid").alias("qcid")))
    cand = (inverted.join(F.broadcast(q), F.col("cid") == F.col("qcid"))
            .filter(F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id",
                    l2sq("qe", "e").alias("d")))
    rnk = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.col("d"), F.col("vec_id")))
    return (cand.withColumn("rank", rnk)
            .filter(F.col("rank") <= 3)
            .select(F.col("q_id").cast("long").alias("q_id"),
                    F.col("vec_id").cast("long").alias("vec_id"),
                    F.col("d").cast("long").alias("dist2_micros"),
                    F.col("rank").cast("long").alias("rank"))
            .orderBy("q_id", "rank"))


@query(
    "ann_pq_topk",
    oracle=f"""
    WITH {_pq_sub_sql()},
    book0 AS (
        SELECT vec_id AS cid, s, subv AS cv FROM sub WHERE vec_id < 16
    ), assigned AS (
        SELECT s, subv, min([d, cid])[2] AS cid
        FROM (SELECT x.vec_id, x.s, x.subv, b.cid, {_PQ_SUB_DIST} AS d
              FROM sub x JOIN (SELECT cid, s, cv FROM book0) b
                ON b.s = x.s)
        GROUP BY vec_id, s, subv
    ), book_s AS (
        SELECT s, cid, CAST(COUNT(*) AS BIGINT) AS n,
               {", ".join(f"SUM(subv[{d}]) AS s{d}" for d in range(1, 9))}
        FROM assigned GROUP BY s, cid
    ), book AS (
        SELECT s, cid,
               [{", ".join(f"(s{d} + n * 1000000) // n - 1000000"
                           for d in range(1, 9))}] AS cv
        FROM book_s
    ), encoded AS (
        SELECT vec_id, s, min([d, cid])[2] AS code
        FROM (SELECT x.vec_id, x.s, b.cid, {_PQ_SUB_DIST.replace('subv', 'x.subv').replace('cv[', 'b.cv[')} AS d
              FROM sub x JOIN book b ON b.s = x.s)
        GROUP BY vec_id, s
    ), q AS (
        SELECT vec_id AS q_id, s AS qs, subv AS qv
        FROM sub WHERE vec_id < 10
    ), adc AS (
        SELECT q.q_id, q.qs, b.cid,
               list_sum([ (q.qv[i] - b.cv[i]) * (q.qv[i] - b.cv[i])
                          for i in range(1, 9) ]) AS dp
        FROM q JOIN book b ON b.s = q.qs
    ), scored AS (
        SELECT a.q_id, en.vec_id, SUM(a.dp) AS approx
        FROM encoded en JOIN adc a
          ON a.qs = en.s AND a.cid = en.code
        WHERE en.vec_id <> a.q_id
        GROUP BY a.q_id, en.vec_id
    ), shortlist AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY approx, vec_id) AS rn
            FROM scored
        ) WHERE rn <= 32
    ), rerank AS (
        SELECT sl.q_id, sl.vec_id,
               list_sum([ (qe.e[i] - ce.e[i]) * (qe.e[i] - ce.e[i])
                          for i in range(1, 65) ]) AS d
        FROM shortlist sl
        JOIN e ce ON ce.vec_id = sl.vec_id
        JOIN e qe ON qe.vec_id = sl.q_id
    )
    SELECT CAST(q_id AS BIGINT) AS q_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(d AS BIGINT) AS dist2_micros
    FROM (SELECT q_id, vec_id, d,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY d, vec_id) AS rn
          FROM rerank)
    WHERE rn <= 3
    ORDER BY q_id, dist2_micros
    """,
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via Product Quantization with exact rerank
    (Jégou et al., TPAMI'11) — the memory-side of the ANN family next
    to the routing-side IVF, in its production deployment shape:

    1. split the 64-dim vector into 8 subspaces of 8 dims,
    2. build a 16-entry codebook per subspace: deterministic seeds
       (vec_id < 16 sub-vectors) + one Lloyd refinement (assign all
       sub-vectors, floor-mean recenter — the same broadcast-argmin +
       single-hash-aggregate shape as :func:`_lloyd_round`, on 8-dim
       lanes),
    3. encode every vector as 8 codes (8 bytes vs 256 — the 32×
       memory win that is PQ's whole point),
    4. answer queries by Asymmetric Distance Computation: the exact
       query sub-vectors against a broadcast 16×8 partial-distance
       table, each database vector costing 8 lookups + adds,
    5. exact integer squared-L2 rerank of the ADC top-32 shortlist —
       the standard recall repair (the 'pq_rerank' row of
       ``ann_recall_contract`` pins the floor).

    Formerly rows-only ("quantized shortlist is codebook-relative");
    on the module's exact-integer lanes (micro BIGINT sub-vectors,
    floor-mean recenter via the +n·OFF trick, lexicographic
    (dist, cid) ties) every stage — codebook, codes, ADC table,
    shortlist, rerank — is a deterministic function of the seed rule,
    so the DuckDB oracle replays the full pipeline and hash-pins the
    approximate answer itself.

    Scale shape: codebooks (128 rows) and per-query ADC tables
    broadcast; the shortlist join back to raw vectors touches 32 rows
    per query, so raw vectors stream map-side exactly once (encoding)
    and the scan side of query serving reads only the 8-byte codes.
    """
    OFF = 1_000_000
    e = _micro_vectors(spark, sf_dir)
    sub = e.select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(s).cast("long").alias("s"),
                     F.slice(F.col("e"), s * 8 + 1, 8).alias("subv"))
            for s in range(8)])).alias("x")
    ).select("vec_id", "x.s", "x.subv").localCheckpoint(eager=False)

    def l2i(a, b):
        return _l2sq_unrolled(a, b, dim=8)

    book0 = (sub.filter(F.col("vec_id") < 16)
             .select(F.col("vec_id").cast("long").alias("cid"),
                     F.col("s").alias("bs"), F.col("subv").alias("cv")))
    # One Lloyd step: assign every sub-vector to its nearest seed
    # centroid (exact integer L2, ties to the smaller cid), recenter
    # per (subspace, centroid) via 8 per-dimension sum expressions in
    # ONE hash aggregate (no posexplode) and the +n·OFF floor-mean.
    assigned = (sub.join(F.broadcast(book0), F.col("s") == F.col("bs"))
                .withColumn("d", l2i(F.col("subv"), F.col("cv")))
                .groupBy("vec_id", "s")
                .agg(F.min(F.struct(F.col("d"), F.col("cid"),
                                    F.col("subv"))).alias("m"))
                .select("s", F.col("m.cid").alias("cid"),
                        F.col("m.subv").alias("subv")))
    sums = (assigned.groupBy("s", "cid")
            .agg(F.count(F.lit(1)).alias("n"),
                 *[F.sum(F.col("subv")[d]).alias(f"s{d}")
                   for d in range(8)]))
    book = (sums.select(
        F.col("s").alias("bs"), "cid",
        F.array(*[F.expr(f"(s{d} + n * {OFF}) div n - {OFF}")
                  for d in range(8)]).alias("cv"))
        .localCheckpoint(eager=False))
    encoded = (sub.join(F.broadcast(book), F.col("s") == F.col("bs"))
               .withColumn("d", l2i(F.col("subv"), F.col("cv")))
               .groupBy("vec_id", "s")
               .agg(F.min(F.struct(F.col("d"), F.col("cid"))).alias("m"))
               .select("vec_id", "s", F.col("m.cid").alias("code")))
    q = (sub.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("q_id"), F.col("s").alias("qs"),
                 F.col("subv").alias("qv")))
    adc = (q.join(F.broadcast(book), F.col("qs") == F.col("bs"))
           .select("q_id", "qs", "cid",
                   l2i(F.col("qv"), F.col("cv")).alias("dp")))
    scored = (encoded.join(F.broadcast(adc),
                           (F.col("s") == F.col("qs"))
                           & (F.col("code") == F.col("cid")))
              .filter(F.col("vec_id") != F.col("q_id"))
              .groupBy("q_id", "vec_id")
              .agg(F.sum("dp").alias("approx")))
    w = W.partitionBy("q_id").orderBy(F.col("approx").asc(), "vec_id")
    shortlist = (scored.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= 32).select("q_id", "vec_id"))
    qfull = (e.filter(F.col("vec_id") < 10)
             .select(F.col("vec_id").alias("rq_id"),
                     F.col("e").alias("qe2")))
    reranked = (shortlist.join(e, "vec_id")
                .join(F.broadcast(qfull), F.col("q_id") == F.col("rq_id"))
                .select("q_id", "vec_id",
                        l2sq("e", "qe2").alias("d")))
    w2 = W.partitionBy("q_id").orderBy(F.col("d").asc(), "vec_id")
    return (reranked.withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") <= 3)
            .select(F.col("q_id").cast("long").alias("q_id"),
                    F.col("vec_id").cast("long").alias("vec_id"),
                    F.col("d").cast("long").alias("dist2_micros"))
            .orderBy("q_id", "dist2_micros"))


@query(
    "knn_regression_eval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label
        FROM embeddings WHERE vec_id < 50 AND label IS NOT NULL
    ), scored AS (
        SELECT q.qid, q.label AS true_label, e.vec_id, e.label,
               ROUND({COSINE_SQL.format(a='e.embedding', b='q.qv')}, 6)
                   AS cos6
        FROM embeddings e, q
        WHERE e.vec_id >= 50 AND e.label IS NOT NULL
    ), ranked AS (
        SELECT qid, true_label, label,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos6 DESC, vec_id) AS rn
        FROM scored
    )
    SELECT qid, CAST(true_label AS INT) AS true_label,
           CAST(SUM(label) AS BIGINT) AS sum_labels,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(ABS(CAST(COUNT(*) AS BIGINT) * true_label
                    - CAST(SUM(label) AS BIGINT)) AS BIGINT)
               AS abs_err_xn
    FROM ranked WHERE rn <= 3
    GROUP BY qid, true_label
    """,
)
def knn_regression_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN REGRESSION eval — the numeric-target twin of
    ``knn_confusion_matrix``: each held-out query's value is predicted
    as the mean label of its exact cosine top-3, and the readout is
    the per-query L1 error kept EXACT by scaling through the common
    denominator (abs_err_xn = |n*true - sum_labels|, so the mean
    absolute error is sum(abs_err_xn)/(n*queries) with zero float in
    the stored rows). Labels are ordinal integers in the fixture,
    which is precisely when label-mean regression and majority-vote
    classification disagree — the two evals catch different
    retrieval-quality failures.

    Same plan skeleton as the classification twin: broadcast query
    batch, one corpus scan, window top-3 at query grain.
    """
    e = Catalog(spark, sf_dir).embeddings
    q = (e.filter((F.col("vec_id") < 50) & F.col("label").isNotNull())
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv"),
                 F.col("label").alias("true_label")))
    # 50 anchors × corpus: the Arrow kernel won 10/10 interleaved
    # CPU pairs against the fused cosine (PERF.md).
    sim = _cos_pair(F.col("embedding"), F.col("qv"))
    scored = (e.filter((F.col("vec_id") >= 50)
                       & F.col("label").isNotNull())
              .crossJoin(F.broadcast(q))
              .select("qid", "true_label", "vec_id", "label",
                      F.round(sim, 6).alias("cos6")))
    rn = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("cos6").desc(), "vec_id"))
    return (scored.withColumn("rn", rn)
            .filter(F.col("rn") <= 3)
            .groupBy("qid", F.col("true_label").cast("int")
                     .alias("true_label"))
            .agg(F.sum("label").cast("long").alias("sum_labels"),
                 F.count(F.lit(1)).cast("long").alias("n_neighbors"))
            .withColumn(
                "abs_err_xn",
                F.abs(F.col("n_neighbors") * F.col("true_label")
                      - F.col("sum_labels")).cast("long")))
