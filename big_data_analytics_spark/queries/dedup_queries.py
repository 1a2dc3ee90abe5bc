"""Driver-visible queries for the near-duplicate / similarity-search
operators (SURVEY.md §7 step 8 — the LLM-data-pipeline extension).

Oracle coverage is per-hash-family. xxhash64-based signatures (d2
MinHash, d3 SimHash) have no DuckDB equivalent — those two stay
rows-only, with exact validation in tests/test_dedup.py against
brute-force n-gram-Jaccard oracles. Everything derivable from md5 or
from plan-time constants IS oracled: d2b re-derives MinHash from md5
hex, and v3/v4's random hyperplanes are md5-seeded Python constants
embedded as literals in BOTH the Spark plan and the oracle SQL
(_planes_sql), so the whole bucket → candidate → rerank pipeline is
value-hash-checked against an independent engine.

Each query plants deterministic duplicates into the fixture corpus so
the result set is non-trivial and stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_analytics_spark.catalog import load_table
from big_data_analytics_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    prefix_filtered_jaccard_pairs,
    simhash_near_dup_pairs,
)
from big_data_analytics_spark.operators.similarity import (
    embedding_near_dup_pairs,
    lsh_index,
    lsh_topk,
)
from big_data_analytics_spark.queries import REGISTRY, query
from big_data_analytics_spark.caching import memo


def _doc_corpus_with_dups(spark: SparkSession, sf_dir: str, n: int = 100) -> DataFrame:
    """Fixture docs + exact copies (+10000) + one-token edits (+20000)."""
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < n).select("doc_id", "text")
    )
    exact = base.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    near = base.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat("text", F.lit(" appended")).alias("text"))
    return base.unionByName(exact).unionByName(near)


@query("d2_minhash_lsh_pairs")
def d2_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 8-band LSH near-dup pairs at est-Jaccard ≥ 0.5
    over the planted-duplicate corpus (64 hashes: se ≈ 0.06, plenty at
    a 0.5 threshold and half the codegen weight of the 128-hash config
    the tests exercise). Validated against the exact n-gram-Jaccard
    oracle in tests/test_dedup.py."""
    return minhash_lsh_pairs(_doc_corpus_with_dups(spark, sf_dir),
                             num_hashes=64, bands=8,
                             threshold=0.5).orderBy("id_a", "id_b")


@query("d3_simhash_pairs")
def d3_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 pairs within Hamming distance 3 (4-block pigeonhole
    LSH) over the planted-duplicate corpus."""
    return simhash_near_dup_pairs(_doc_corpus_with_dups(spark, sf_dir),
                                  max_hamming=3).orderBy("id_a", "id_b")


@query(
    "d4_ngram_jaccard_pairs",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 100
        UNION ALL
        SELECT doc_id + 10000, text FROM documents WHERE doc_id < 100
        UNION ALL
        SELECT doc_id + 20000, concat(text, ' appended') FROM documents
        WHERE doc_id < 100
    ), shingled AS (
        SELECT doc_id,
               unnest(list_distinct(
                   list_transform(
                       generate_series(1, greatest(1, len(toks) - 2)),
                       i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
        FROM (SELECT doc_id,
                     regexp_split_to_array(
                         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
              FROM corpus)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM shingled GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM shingled a JOIN shingled b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5
    """,
)
def d4_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard pairs ≥ 0.5 — fully SQL-expressible,
    so this one DOES get a DuckDB oracle (the same inverted-index-join
    algorithm on both engines)."""
    pairs = ngram_jaccard_pairs(_doc_corpus_with_dups(spark, sf_dir),
                                threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _planes_sql(salt: str, n_tables: int, n_planes: int,
                dim: int = 64) -> str:
    """The LSH hyperplanes as SQL VALUES rows (table_id, plane_id,
    coefs DOUBLE[]). The planes are md5-derived Python constants
    (operators/similarity.py:_hyperplane) embedded as literals in the
    Spark plan; embedding the SAME floats here (repr round-trips the
    exact double) makes the bucketing oracle-reproducible — both
    engines then run an identical sequential dot-product fold over
    identical bits."""
    from big_data_analytics_spark.operators.similarity import _hyperplane
    rows = []
    for t in range(n_tables):
        for p in range(n_planes):
            coefs = _hyperplane(salt, t, p, dim)
            lst = "[" + ", ".join(repr(c) for c in coefs) + "]"
            rows.append(f"({t}, {p}, {lst}::DOUBLE[])")
    return ", ".join(rows)


_COS8 = ("ROUND(list_dot_product({a}, {b}) / "
         "(sqrt(list_dot_product({a}, {a})) * "
         "sqrt(list_dot_product({b}, {b}))), 8)")


@query(
    "v3_lsh_ann_topk",
    oracle=f"""
    WITH vecs AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), planes(table_id, plane_id, coefs) AS (
        VALUES {_planes_sql('rhp', n_tables=16, n_planes=4)}
    ), buckets AS (
        SELECT vec_id, table_id,
               SUM(CASE WHEN list_dot_product(v, coefs) > 0
                        THEN (1::BIGINT << plane_id) ELSE 0 END) AS bucket
        FROM vecs, planes GROUP BY vec_id, table_id
    ), cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
        FROM buckets qb JOIN buckets cb
          ON qb.table_id = cb.table_id AND qb.bucket = cb.bucket
        WHERE qb.vec_id < 3 AND cb.vec_id >= 3
    ), scored AS (
        SELECT c.query_id, c.neighbor_id,
               {_COS8.format(a='qv.v', b='cv.v')} AS cosine
        FROM cand c
        JOIN vecs qv ON qv.vec_id = c.query_id
        JOIN vecs cv ON cv.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM scored) WHERE rn <= 5
    """,
)
def v3_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH approximate top-5 neighbors for the first
    3 vectors. Recall vs brute force measured in
    tests/test_similarity.py; the bucket → candidate → rerank pipeline
    itself is hash-checked against DuckDB — the planes are plan-time
    md5-derived constants shared verbatim with the oracle
    (_planes_sql), so LSH stops being a "no-oracle" operator. The
    corpus signature relation is the session-memoized build-once
    index: only the 3-vector query batch is signed per probe, matching
    how production serves an LSH index."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")

    def build() -> DataFrame:
        # The index build evaluates 16 tables x 4 planes x 64-wide
        # interpreted folds per vector, but the embeddings parquet
        # arrives as ~1 input split — repartition so the one-off
        # signature pass parallelizes (the ml17/cf1 rule: size
        # partitions for the amplified work, not the input bytes).
        corpus = (emb.filter(F.col("vec_id") >= 3)
                  .repartition(spark.sparkContext.defaultParallelism))
        return lsh_index(corpus, n_planes=4,
                         n_tables=16).localCheckpoint()

    return lsh_topk(None, queries_df, k=5, n_planes=4, n_tables=16,
                    index=memo(spark, ("lsh_index", sf_dir), build))


@query(
    "v4_embedding_near_dups",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000, embedding::DOUBLE[] FROM embeddings
        WHERE vec_id < 25
    ), planes(table_id, plane_id, coefs) AS (
        VALUES {_planes_sql('neardup', n_tables=6, n_planes=10)}
    ), buckets AS (
        SELECT vec_id, table_id,
               SUM(CASE WHEN list_dot_product(v, coefs) > 0
                        THEN (1::BIGINT << plane_id) ELSE 0 END) AS bucket
        FROM base, planes GROUP BY vec_id, table_id
    ), cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM buckets a JOIN buckets b
          ON a.table_id = b.table_id AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           {_COS8.format(a='va.v', b='vb.v')} AS cosine
    FROM cand c
    JOIN base va ON va.vec_id = c.id_a
    JOIN base vb ON vb.vec_id = c.id_b
    WHERE {_COS8.format(a='va.v', b='vb.v')} >= 0.999
    """,
)
def v4_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate pairs (cosine ≥ 0.999) with
    planted exact copies. Same portable-oracle move as v3: the LSH
    planes are plan-time constants shared with the oracle SQL, so the
    bucketed self-join is value-hash-checked, not rows-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    dups = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    return embedding_near_dup_pairs(emb.unionByName(dups), threshold=0.999)


# --------------------------------------------------------------------
# d2b — engine-portable MinHash+LSH with a full DuckDB oracle. The
# production operator (d2) uses xxhash64 seeds, which no other engine
# reproduces, so its driver row is rows-only; this variant derives
# every hash from md5 hex (portable everywhere) so the *entire*
# MinHash → banding → candidate-pair → signature-verify pipeline is
# value-hash-checked against an independent engine. Same plan shape
# as the production operator: narrow shingle explode, one groupBy-min
# signature aggregate, band equality self-join, pair-level verify.
# --------------------------------------------------------------------
_MH_P = 2147483647  # Mersenne 2^31-1
_MH_PERMS = [  # (a odd, b) — fixed affine permutations mod _MH_P
    (((2654435761 * (j + 1)) % _MH_P) | 1, (40503 * 65537 * (j + 7)) % _MH_P)
    for j in range(16)
]
_MH_THRESH = 8  # >= 8/16 matching components ~ est Jaccard >= 0.5

_MH_PERMS_SQL = ", ".join(f"({j}, {a}, {b})"
                          for j, (a, b) in enumerate(_MH_PERMS))

_D2B_ORACLE = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents WHERE doc_id < 100
    UNION ALL
    SELECT doc_id + 10000, text FROM documents WHERE doc_id < 100
    UNION ALL
    SELECT doc_id + 20000, text || ' appended' FROM documents
    WHERE doc_id < 100
), toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM corpus
), shingles AS (
    SELECT doc_id,
           UNNEST(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks WHERE len(t) >= 3
), hv AS (
    SELECT doc_id,
           ('0x' || substr(md5(shingle), 1, 8))::BIGINT % {_MH_P} AS h
    FROM shingles
), sig AS (
    SELECT doc_id, p.j, MIN((p.a * h + p.b) % {_MH_P}) AS m
    FROM hv CROSS JOIN (VALUES {_MH_PERMS_SQL}) AS p(j, a, b)
    GROUP BY doc_id, p.j
), bands AS (
    SELECT doc_id, j // 4 AS band,
           string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS key
    FROM sig GROUP BY doc_id, j // 4
), pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT p.id_a, p.id_b,
       CAST(COUNT(*) FILTER (WHERE sa.m = sb.m) AS BIGINT) AS n_match,
       COUNT(*) FILTER (WHERE sa.m = sb.m) / 16.0 AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.id_a
JOIN sig sb ON sb.doc_id = p.id_b AND sb.j = sa.j
GROUP BY p.id_a, p.id_b
HAVING COUNT(*) FILTER (WHERE sa.m = sb.m) >= {_MH_THRESH}
"""


def _portable_sigs(corpus: DataFrame) -> DataFrame:
    """md5-MinHash(16) signature table (doc_id, m0..m15): raw-split
    3-shingles via arrays_zip of shifted slices (codegen — see
    SCALE.md array-shape notes), one 32-bit md5 hash per shingle, 16
    affine min-aggregates in a single groupBy."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    shingles = (
        corpus.filter(n >= 3)
        .select("doc_id", F.explode(F.arrays_zip(
            F.slice(toks, 1, n - 2),
            F.slice(toks, 2, n - 2),
            F.slice(toks, 3, n - 2),
        )).alias("p"))
        .select("doc_id",
                F.concat_ws(" ", "p.0", "p.1", "p.2").alias("shingle"))
    )
    h = (F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
         .cast("long") % _MH_P)
    return (
        shingles.select("doc_id", h.alias("h"))
        .groupBy("doc_id")
        .agg(*[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % _MH_P)
            .alias(f"m{j}")
            for j, (a, b) in enumerate(_MH_PERMS)
        ])
    )


def _sig_bands(sig: DataFrame) -> DataFrame:
    """4 equality band keys per signature row (doc_id, band, key)."""
    return sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws(",", *[
                    F.col(f"m{j}").cast("string")
                    for j in range(band * 4, band * 4 + 4)
                ]).alias("key"),
            )
            for band in range(4)
        ])).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def _verified_pairs(pairs: DataFrame, sig: DataFrame) -> DataFrame:
    """Re-score candidate (id_a, id_b) pairs by full-signature
    agreement; keep n_match >= the threshold."""
    sa = sig.select(F.col("doc_id").alias("id_a"),
                    *[F.col(f"m{j}").alias(f"a{j}") for j in range(16)])
    sb = sig.select(F.col("doc_id").alias("id_b"),
                    *[F.col(f"m{j}").alias(f"b{j}") for j in range(16)])
    n_match = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(16)
    ).cast("long")
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", n_match.alias("n_match"),
                (n_match / 16.0).alias("est_jaccard"))
        .filter(F.col("n_match") >= _MH_THRESH)
    )


@query("d2b_minhash_portable", oracle=_D2B_ORACLE)
def d2b_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + 4-band LSH near-dup pairs with every hash derived
    from md5 (portable), so the full pipeline is checked value-for-
    value against DuckDB. Plan: shingle explode stays narrow; the 16
    affine permutations are 16 min-aggregates over one precomputed
    32-bit shingle hash (single groupBy, whole-stage codegen); bands
    are 4 equality keys per doc; candidates come from a band self-join
    and are verified by re-joining the two signatures."""
    sig = _portable_sigs(_doc_corpus_with_dups(spark, sf_dir))
    bands = _sig_bands(sig)
    pairs = (
        bands.alias("a")
        .join(bands.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.key") == F.col("b.key"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    return _verified_pairs(pairs, sig)


_D7_ORACLE = f"""
WITH base AS (
    SELECT doc_id, text FROM documents WHERE doc_id < 100
), delta AS (
    SELECT doc_id + 40000 AS doc_id, text || ' tail' AS text
    FROM base WHERE doc_id < 10
    UNION ALL
    SELECT doc_id + 50000, text FROM documents
    WHERE doc_id >= 100 AND doc_id < 120
), corpus AS (
    SELECT * FROM base UNION ALL SELECT * FROM delta
), toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM corpus
), shingles AS (
    SELECT doc_id,
           UNNEST(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM toks WHERE len(t) >= 3
), hv AS (
    SELECT doc_id,
           ('0x' || substr(md5(shingle), 1, 8))::BIGINT % {_MH_P} AS h
    FROM shingles
), sig AS (
    SELECT doc_id, p.j, MIN((p.a * h + p.b) % {_MH_P}) AS m
    FROM hv CROSS JOIN (VALUES {_MH_PERMS_SQL}) AS p(j, a, b)
    GROUP BY doc_id, p.j
), bands AS (
    SELECT doc_id, j // 4 AS band,
           string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS key
    FROM sig GROUP BY doc_id, j // 4
), pairs AS (
    SELECT LEAST(d.doc_id, a.doc_id) AS id_a,
           GREATEST(d.doc_id, a.doc_id) AS id_b
    FROM bands d JOIN bands a
      ON d.band = a.band AND d.key = a.key AND d.doc_id <> a.doc_id
    WHERE d.doc_id >= 40000
    GROUP BY 1, 2
)
SELECT p.id_a, p.id_b,
       CAST(COUNT(*) FILTER (WHERE sa.m = sb.m) AS BIGINT) AS n_match,
       COUNT(*) FILTER (WHERE sa.m = sb.m) / 16.0 AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.id_a
JOIN sig sb ON sb.doc_id = p.id_b AND sb.j = sa.j
GROUP BY p.id_a, p.id_b
HAVING COUNT(*) FILTER (WHERE sa.m = sb.m) >= {_MH_THRESH}
"""


@query("d7_incremental_dedup", oracle=_D7_ORACLE)
def d7_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup maintenance: a 30-doc delta batch (10
    near-copies of indexed docs + 20 fresh docs) bands against the
    full signature index, and only pairs TOUCHING THE DELTA are
    produced — the corpus is never re-paired against itself. This is
    the shape that keeps dedup affordable as a 100 TB corpus grows:
    signature/band relations are the persisted index (append-only
    under ingestion), the band join's probe side is delta-sized (a
    broadcast here), and the quadratic stage is |delta|-bounded
    instead of |corpus|-bounded. Same md5-portable MinHash machinery
    as d2b, so the whole incremental path is value-hash-graded."""
    base = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 100).select("doc_id", "text"))
    fresh = (load_table(spark, sf_dir, "documents")
             .filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
             .select((F.col("doc_id") + 50000).alias("doc_id"), "text"))
    near = base.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 40000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"))
    delta = near.unionByName(fresh)
    # the index: in production a persisted (doc_id, m0..m15) relation;
    # here rebuilt from base ∪ delta (no cross-run state in a graded
    # query) — the *join shape* is the incremental part
    sig = _portable_sigs(base.unionByName(delta))
    bands_all = _sig_bands(sig)
    bands_delta = bands_all.filter(F.col("doc_id") >= 40000)
    pairs = (
        F.broadcast(bands_delta.alias("d"))
        .join(bands_all.alias("a"),
              (F.col("d.band") == F.col("a.band"))
              & (F.col("d.key") == F.col("a.key"))
              & (F.col("d.doc_id") != F.col("a.doc_id")))
        .select(F.least("d.doc_id", "a.doc_id").alias("id_a"),
                F.greatest("d.doc_id", "a.doc_id").alias("id_b"))
        .distinct()
    )
    return _verified_pairs(pairs, sig)


# --------------------------------------------------------------------
# d3b — engine-portable SimHash, the d2b move applied to the other
# hash family: the production d3 uses xxhash64 token hashes (rows-only
# forever), but md5-derived 48-bit hashes are computable in DuckDB, so
# the full token-hash → bit-vote → fingerprint → Hamming pipeline gets
# a value-hash oracle. 48 bits (12 hex chars) keeps the hash inside
# signed BIGINT for both engines.
# --------------------------------------------------------------------
_SH_BITS = 48


@query(
    "d3b_simhash_portable",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 100
        UNION ALL
        SELECT doc_id + 10000, text FROM documents WHERE doc_id < 100
        UNION ALL
        SELECT doc_id + 20000, text || ' appended' FROM documents
        WHERE doc_id < 100
    ), toks AS (
        SELECT doc_id,
               unnest(list_distinct(regexp_split_to_array(
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                   ' '))) AS tok
        FROM corpus
    ), hv AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 12))::BIGINT AS h
        FROM toks
    ), votes AS (
        SELECT doc_id, i,
               SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM hv CROSS JOIN range(0, {_SH_BITS}) t(i)
        GROUP BY doc_id, i
    ), fp AS (
        SELECT doc_id,
               SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS f
        FROM votes GROUP BY doc_id
    )
    SELECT b.doc_id AS orig_id, d.doc_id AS dup_id,
           CAST(bit_count(xor(b.f, d.f)) AS BIGINT) AS hamming
    FROM fp b JOIN fp d ON d.doc_id = b.doc_id + 10000
    WHERE b.doc_id < 100
    UNION ALL
    SELECT b.doc_id, n.doc_id,
           CAST(bit_count(xor(b.f, n.f)) AS BIGINT)
    FROM fp b JOIN fp n ON n.doc_id = b.doc_id + 20000
    WHERE b.doc_id < 100
    """,
)
def d3b_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-{_SH_BITS} fingerprints with md5-derived token hashes
    (portable), reported as per-planted-pair Hamming distances: exact
    copies must land at 0, one-token edits near 0 — and every distance
    is value-checked against DuckDB computing the same bit votes.
    Plan shape matches the production operator (d3): token explode →
    one 48-bit hash per token → one groupBy with {_SH_BITS} vote sums
    → fingerprint assembly → two broadcast joins on the planted id
    offsets. All whole-stage codegen; no UDFs."""
    from big_data_analytics_spark.operators.dedup import word_shingles

    corpus = _doc_corpus_with_dups(spark, sf_dir)
    toks = corpus.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 1)).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long")
    hv = toks.select("doc_id", h.alias("h"))
    bit = [
        F.call_function("shiftright", F.col("h"), F.lit(i))
        .bitwiseAND(F.lit(1))
        for i in range(_SH_BITS)
    ]
    votes = hv.groupBy("doc_id").agg(*[
        F.sum(bit[i] * 2 - 1).alias(f"v{i}") for i in range(_SH_BITS)
    ])
    fp = votes.select(
        "doc_id",
        sum(
            F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            for i in range(_SH_BITS)
        ).alias("f"),
    )
    base = (fp.filter(F.col("doc_id") < 100)
            .select(F.col("doc_id").alias("orig_id"),
                    F.col("f").alias("fb")))

    def pairs(offset: int) -> DataFrame:
        dup = fp.select(F.col("doc_id").alias("dup_id"),
                        F.col("f").alias("fd"))
        return (base.join(dup,
                          dup.dup_id == base.orig_id + offset)
                .select("orig_id", "dup_id",
                        F.bit_count(F.col("fb").bitwiseXOR(F.col("fd")))
                        .cast("long").alias("hamming")))

    return pairs(10000).unionByName(pairs(20000))


@query(
    "d5_containment_pairs",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 100
        UNION ALL
        SELECT doc_id + 30000,
               array_to_string(string_split(text, ' ')[1:30], ' ')
        FROM documents WHERE doc_id < 100
    ), shingled AS (
        SELECT doc_id,
               unnest(list_distinct(
                   list_transform(
                       generate_series(1, greatest(1, len(toks) - 2)),
                       i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
        FROM (SELECT doc_id,
                     regexp_split_to_array(
                         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
              FROM corpus)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM shingled GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM shingled a JOIN shingled b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), scored AS (
        SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b,
               CAST(common AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(common AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.9
    )
    SELECT CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS id_small,
           CASE WHEN n_a <= n_b THEN id_b ELSE id_a END AS id_big,
           ROUND(containment, 6) AS containment
    FROM scored
    """,
)
def d5_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: 30-token excerpts planted beside
    their source documents have Jaccard ~0.3 (invisible to the d4
    threshold) but containment ~1.0 from the excerpt side — the
    embedded-duplication case (quotes, boilerplate, wrapper pages)
    that symmetric similarity misses. Same inverted-index join cost
    as d4; fully oracled."""
    from big_data_analytics_spark.operators.dedup import (
        ngram_containment_pairs)
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100).select("doc_id", "text")
    )
    excerpts = base.select(
        (F.col("doc_id") + 30000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 30))
        .alias("text"))
    pairs = ngram_containment_pairs(base.unionByName(excerpts),
                                    threshold=0.9)
    return pairs.select("id_small", "id_big",
                        F.round("containment", 6).alias("containment"))


_D4_ORACLE = REGISTRY["d4_ngram_jaccard_pairs"].oracle


@query("d9_prefix_filter_jaccard", oracle=_D4_ORACLE)
def d9_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs >= 0.5 via PPJoin-style PREFIX FILTERING
    (operators/dedup.prefix_filtered_jaccard_pairs): only each doc's
    |A| - ceil(0.5|A|) + 1 globally-rarest shingles enter the index
    join, plus a size-ratio prune, then exact verification. The
    oracle is d4's brute-force inverted-index SQL VERBATIM — a hash
    match proves the prefix filter lost no pair (completeness is the
    PPJoin theorem; the hash certifies the implementation honors it),
    the same certify-the-shortcut discipline as fj1's deletion
    neighborhood and mm7's Hamming bands.

    Scale: the full inverted index joins EVERY (doc, shingle)
    occurrence — its hottest buckets are the most frequent shingles,
    exactly where candidate fan-out explodes quadratically. The
    prefix join indexes only the ~(1-t) rarest shingles per doc
    (tests/test_dedup.py measures the candidate-pair reduction), so
    shuffle volume and bucket skew both shrink as t rises."""
    return (prefix_filtered_jaccard_pairs(
        _doc_corpus_with_dups(spark, sf_dir), threshold=0.5)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b"))
