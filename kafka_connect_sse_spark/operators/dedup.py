"""Deduplication operators for LLM-data pipelines (extension tier).

Five dedup families, each with its 100 TB story:
  * exact         — hash-groupBy on content digest: one shuffle on a 64-hex
                    key, perfectly parallel, no skew (sha2 is uniform).
  * minhash-LSH   — shingle → minhash signature → band buckets → join inside
                    buckets only.  Candidate generation is O(n·bands) instead
                    of O(n²); the bucket join shuffles on (band, bucket-hash).
  * simhash       — 64-bit signed-projection fingerprint; near-dups share
                    fingerprints at small hamming distance.
  * n-gram Jaccard— exact pairwise verification, run only on LSH candidates
                    (or a bounded sample) — never on the full cross product.
  * embedding     — cosine near-dup over the embeddings table (see
                    similarity.py for the top-k form).

All candidate-pair hashing uses Spark's xxhash64 (JVM, codegen).  The
clustering outputs are implementation-defined (WEAK check class) except
x_dedup_exact / x_dedup_exact_hash / x_ngram_jaccard which have DuckDB
oracles (SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..io import load_table
from ..registry import register

# 8 bands x 4 rows: the band width (rows) is what suppresses NOISE
# candidates — P(candidate | J=0.05) = 1-(1-0.05^4)^8 ~ 5e-5, so the
# verify stage sees O(hundreds) of pairs on a 5k-doc corpus instead of
# the ~4% of ALL pairs that 2-row bands admit (measured: 48 s vs 2 s at
# sf0.1).  Real near-duplicates in these corpora sit at J >= 0.95, where
# P(candidate) = 1-(1-0.95^4)^8 ~ 1-1.4e-6 — realized recall is complete
# (verified empirically at every SF; the seeded hash family makes it
# deterministic), which is what lets x_dedup_near_minhash carry a full
# ground-truth oracle (EXACT) instead of a rows-only check.
N_MINHASH = 32  # permutations; grouped into bands for LSH
N_BANDS = 8
ROWS_PER_BAND = N_MINHASH // N_BANDS
SHINGLE_K = 3  # token-level 3-shingles


@register(
    "x_dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group identical content, keep the smallest doc_id.
    (One hash shuffle on the text; at scale you'd group on sha2(text)
    instead to shrink shuffle rows — see x_dedup_exact_hash.)"""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    ).select("keep_id", "n_copies")


@register(
    "x_dedup_exact_hash",
    oracle="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def x_dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content digest — the form that scales: the shuffle
    carries 32-byte digests, not documents, and the digest is also the
    cross-run dedup key for incremental pipelines."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.sha2("text", 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingles(text_col, k: int = SHINGLE_K):
    """Token k-shingles as strings: join of k consecutive tokens.  Docs
    shorter than k tokens yield an EMPTY array (no truncated shingle) —
    mirrors SQL generate_series(1, n-k+1) emitting nothing for n < k.

    Built as a zip_with chain over k top-level slices rather than a
    transform(sequence, i -> slice(toks, i+1, k)) — the transform form's
    lambda references the outer split(text) expression, which Catalyst
    re-evaluates (re-splitting the document) PER ARRAY ELEMENT in the
    interpreted lambda path; the slices here are plain per-row arguments
    evaluated once.  Measured at sf1 on the exploded shingle relation:
    16.7 s → 3.3 s (5×), output bit-identical (round 8; same trap as
    x_word_entropy's rewrite — minimize evals, not just shuffles)."""
    toks = F.split(text_col, " ")
    n = F.size(toks)
    m = n - k + 1
    z = F.slice(toks, 1, m)
    for i in range(1, k):
        z = F.zip_with(
            z, F.slice(toks, i + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(n >= k, z).otherwise(F.array().cast("array<string>"))


def _min_seeded_hash(hashed_col, seed: int):
    """min over pre-hashed shingles of xxhash64(h, seed) — one MinHash
    permutation over an array<long>.  The inner lambda MUST be arity-1:
    a two-parameter lambda (even with a default) makes Spark bind the
    second parameter to the ARRAY INDEX, which silently turns every
    permutation into the same position-sensitive hash (the round-1 bug
    this function fixes — caught the moment the op gained a full
    ground-truth oracle)."""
    return F.array_min(
        F.transform(hashed_col, lambda h: F.xxhash64(h, F.lit(seed)))
    )


def minhash_signature(hashed_col, n_hashes: int = N_MINHASH):
    """MinHash signature: min over pre-hashed shingles of seeded
    xxhash64 per permutation.

    The argument is an array<long> of per-shingle base hashes
    (xxhash64(shingle)), computed ONCE per document: re-hashing an
    8-byte long per permutation costs a handful of multiplies, while
    the round-1..12 form re-hashed the ~30-byte shingle STRING in all
    {n} permutations — measured 1.9s -> 1.1s on the sf0.1 eager build.
    The derived family xxhash64(xxhash64(s), i) is deterministic and
    uniform per seed, so the banding recall math in
    tests/test_minhash_recall.py is unchanged (the fixture guard +
    synthetic-knee tests re-measure it against ground truth).

    CSE WARNING: pass a *materialized column reference* (project the
    hashed array in its own select first), NOT the raw expression —
    the n_hashes seeded subtrees are all distinct, so Catalyst will not
    share a common subexpression across them and each permutation would
    re-tokenize and re-hash the document (measured 8× slowdown at
    sf0.1)."""
    return F.array(
        *[_min_seeded_hash(hashed_col, i) for i in range(n_hashes)]
    )


MAX_BUCKET = 200  # degenerate-bucket cap (boilerplate guard); see docstring

# Session-scoped cache of x_dedup_near_minhash's checkpointed verified-
# pair relation (the _COACT_CACHE rule, round 13): x_dup_graph_degree
# and x_dup_cross_lang consume the same pairs — the pipeline used to run
# once per consumer per session.
_MINHASH_PAIRS_CACHE: dict[tuple[str, str], "DataFrame"] = {}


def banded_signatures(sh_df: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH index rows from a shingle relation:
    MinHash signature -> N_BANDS bands of ROWS_PER_BAND rows, each band
    hashed to its bucket id.  This relation IS the stored dedup index —
    O(n * bands) rows of three longs — that incremental ingest joins new
    batches against (x_dedup_incremental)."""
    # base-hash the shingle strings ONCE into a materialized array<long>
    # column; the 32 seeded permutations then re-mix 8-byte longs instead
    # of re-hashing the strings (see minhash_signature docstring)
    hashed = sh_df.select(
        "doc_id",
        F.transform(F.col("sh"), lambda s: F.xxhash64(s)).alias("hs"),
    )
    sig = hashed.select(
        "doc_id", minhash_signature(F.col("hs")).alias("sig")
    )
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", b * ROWS_PER_BAND + r + 1).cast(
                                    "string"
                                )
                                for r in range(ROWS_PER_BAND)
                            ],
                        )
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )


def minhash_candidates(
    docs: DataFrame, sh_df: DataFrame | None = None
) -> DataFrame:
    """LSH candidate pairs: band the signature, expand pairs *within*
    buckets via groupBy + collect_list — the signature pipeline runs once
    and the only shuffle is on (band, bucket), instead of a self-join that
    would recompute signatures on both branches.

    Buckets larger than MAX_BUCKET docs are dropped (and would otherwise go
    quadratic on boilerplate-heavy corpora); real near-dup clusters that
    size are caught by x_dedup_exact_hash first.  Returns distinct
    (doc_a, doc_b), doc_a < doc_b.

    `sh_df` (doc_id, sh: array<string>) lets the caller share an
    already-computed (persisted) shingle relation — min over distinct
    shingles equals min over raw shingles, so a dedup'd set is fine."""
    from ..plans import spread

    if sh_df is None:
        # shingle array materialized in its own projection so the 32
        # seeded min-hash subtrees read one computed column instead of
        # re-deriving the shingles per permutation (see minhash_signature
        # CSE warning); spread() parallelizes single-split scans
        sh_df = spread(docs, "doc_id").select(
            "doc_id", shingles(F.col("text")).alias("sh")
        )
    banded = banded_signatures(sh_df)
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= MAX_BUCKET))
    )
    # all ordered pairs within a bucket: for each position i, pair ids[i]
    # with every later element
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x, i: F.transform(
                        F.slice(
                            "ids", i + 2, F.greatest(F.size("ids") - i - 1, F.lit(0))
                        ),
                        lambda y: F.struct(
                            x.alias("doc_a"), y.alias("doc_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


@register(
    "x_dedup_near_minhash",
    oracle=f"""
    WITH t AS (SELECT doc_id, str_split(text, ' ') AS l FROM documents),
    sh AS (SELECT doc_id,
             CASE WHEN len(l) >= {SHINGLE_K} THEN
               list_distinct([array_to_string(l[i:i+{SHINGLE_K - 1}], ' ')
                              for i in range(1, len(l) - {SHINGLE_K - 2})])
             ELSE [] END AS s
           FROM t),
    ex AS (SELECT doc_id, len(s) AS ns, UNNEST(s) AS g FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ANY_VALUE(a.ns) AS na, ANY_VALUE(b.ns) AS nb, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (na + nb - c) AS jaccard
    FROM common
    WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5
    """,
)
def x_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact shingle Jaccard and
    thresholded at 0.5.  EXACT: the oracle is the FULL all-pairs ground
    truth, so the hash check verifies precision (every emitted pair really
    is >= 0.5) AND recall (the banded LSH missed nothing above threshold).
    Recall contract, honestly stated: with 32 permutations in 8 bands of 4
    rows, the per-pair candidate probability is 1-(1-J^4)^8 — at J=0.5
    that is only ~40%, at J=0.89 it is ~99.96%.  The gate passes because
    the seeded hash family is deterministic and every fixture ground-truth
    pair sits at J >= 0.88 (measured: worst pairs 0.889/0.9 at
    sf0.001/sf0.01), where the analytic miss probability is < 1e-3 per
    pair.  tests/test_minhash_recall.py guards this: it re-measures the
    fixture's Jaccard distribution and fails with remediation guidance if
    a regeneration ever introduces pairs whose analytic miss probability
    exceeds 1% (J below ~0.80) — widen bands (more, shorter) or lower the
    verify threshold before trusting the gate on such a fixture.  The
    oracle is STILL the full ground truth but expressed as an
    inverted-index shingle join (pairs sharing zero shingles have J=0 and
    can never reach the 0.5 threshold — identical result set to the naive
    cross join, which was quadratic single-threaded in DuckDB and made
    checking large doc tiers intractable: 14 min at 5k docs, measured);
    the operator itself stays
    O(n * bands), which is the 100 TB path.  Jaccard is emitted as the raw
    double ratio (identical int/int division in both engines) — rounding
    would reintroduce the off-grid round divergence.

    Round 13: the checkpointed verified-pair relation is published to a
    session cache for its DOWNSTREAM consumers (x_dup_graph_degree and
    x_dup_cross_lang used to re-run the whole shingle+signature+verify
    pipeline each — the _COACT_CACHE rule).  This op itself NEVER reads
    the cache: every invocation recomputes from the parquet input, so
    bench/oracle timings of the op measure the pipeline, not a memo
    lookup (the cache is strictly a cross-operator artifact share, like
    the graph family's edge relation)."""
    from ..plans import spread

    key = (spark.sparkContext.applicationId, str(sf_dir))
    d = load_table(spark, sf_dir, "documents")
    # ONE persisted shingle relation feeds signature computation AND both
    # sides of the verify join — the corpus is tokenized exactly once;
    # spread() parallelizes the tokenization when the scan is one split
    sh = (
        spread(d, "doc_id")
        .select("doc_id", F.array_distinct(shingles(F.col("text"))).alias("sh"))
        .persist()
    )
    cand = minhash_candidates(d, sh_df=sh)
    a = sh.alias("sa")
    b = sh.alias("sb")
    pairs = (
        cand.join(a, cand.doc_a == F.col("sa.doc_id"))
        .join(b, cand.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sa.sh", "sb.sh")).cast("double")
                / F.size(F.array_union("sa.sh", "sb.sh"))
            ).alias("jaccard"),
        )
    )
    out = pairs.filter(F.col("jaccard") >= 0.5).select(
        "doc_a", "doc_b", F.col("jaccard")
    )
    try:
        # eager localCheckpoint materializes the (tiny) verified-pair set so
        # the shingle cache can be released before returning — repeated
        # registry/bench invocations must not accumulate pinned partitions
        ck = out.localCheckpoint(eager=True)
        _MINHASH_PAIRS_CACHE[key] = ck
        return ck
    finally:
        sh.unpersist()


def minhash_pairs_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session's verified near-dup pair artifact, for ops that CONSUME
    the pairs (x_dup_graph_degree, x_dup_cross_lang): reuse the relation
    x_dedup_near_minhash already checkpointed this session, else build it.
    Only consumers come through here — the producing op always recomputes
    (see its docstring)."""
    key = (spark.sparkContext.applicationId, str(sf_dir))
    cached = _MINHASH_PAIRS_CACHE.get(key)
    if cached is not None:
        return cached
    return x_dedup_near_minhash(spark, sf_dir)


def _simhash_bit_hex(hexes, i: int):
    """Bit i of the simhash over precomputed md5-hex token hashes: set
    when the majority of tokens have hex char i of their md5 >= '8'
    (i.e. the high bit of that hex digit).  The filter lambda MUST be
    arity-1 — a second defaulted parameter would be bound to the ARRAY
    INDEX by Spark's higher-order filter, collapsing every bit to one
    identical condition (the round-1 bug: the whole corpus landed in 2
    fingerprint buckets)."""
    return F.when(
        F.size(
            F.filter(
                hexes,
                lambda h: F.substring(h, i + 1, 1) >= F.lit("8"),
            )
        )
        * 2
        > F.size(hexes),
        F.lit(1 << i),
    ).otherwise(F.lit(0))


def _simhash_bit(toks, i: int):
    """Bit i of the simhash from raw tokens (test/backcompat shim —
    hashes every call; the registered op materializes the hex array once
    and uses _simhash_bit_hex)."""
    return _simhash_bit_hex(F.transform(toks, lambda t: F.md5(t)), i)


#: x_dedup_simhash packed-counter layout: the 32 md5-hex digits split
#: into conv()-safe 48/48/32-bit integer chunks (12+12+8 digits).
_SIMHASH_CHUNKS = ((1, 12), (13, 12), (25, 8))
_SIMHASH_STRIDE = 4  # counters every 4th nibble -> 16-bit headroom


def _simhash_stride_mask(length: int, r: int) -> int:
    """Mask keeping nibble positions p in [0, length) with p % stride
    == r — the packed vote counters' home slots."""
    m = 0
    for p in range(r, length, _SIMHASH_STRIDE):
        m |= 0x1 << (4 * p)
    return m


@register(
    "x_dedup_simhash",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_transform(list_distinct(str_split(text, ' ')),
                            x -> md5(x)) AS hx
      FROM documents)
    SELECT simhash32,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keep_id
    FROM (SELECT doc_id, CAST(__FP__ AS BIGINT) AS simhash32 FROM t)
    GROUP BY simhash32
    """.replace(
        "__FP__",
        " + ".join(
            f"(CASE WHEN 2 * len(list_filter(hx, h -> substr(h, {i + 1}, 1)"
            f" >= '8')) > len(hx) THEN {1 << i} ELSE 0 END)"
            for i in range(32)
        ),
    ),
)
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints: 32-bit majority projection over token hashes.
    Near-dups have small hamming distance; here we emit fingerprint buckets
    and their sizes.  EXACT since round 2: bit i is the majority vote of
    md5-hex digit i's high bit — md5 is identical in Spark and DuckDB, so
    the oracle replays the whole fingerprint construction.

    Round-11 rewrite (BIT-PARALLEL votes; output parity-pinned against
    the _simhash_bit_hex reference form in tests): the pre-Zipf fixture
    made the 32-filter-lambda form look free (0.18 s warm at sf1 —
    compile-dominated, SCALE.md), but text-like documents moved the cost
    to per-ELEMENT lambda evaluation: 14.2 s warm at sf1, 115.6 s at
    sf10 (the r11 watch item).  The fix changes the eval regime twice
    over: (1) tokens are EXPLODED so the per-digit work runs in
    whole-stage CODEGEN instead of interpreted higher-order lambdas, and
    (2) the 32 high bits are extracted TOGETHER, integer-parallel — each
    md5 parses into three conv()-safe BIGINT chunks (12+12+8 hex
    digits), one shift+mask yields all nibble high-bits at once, and a
    stride-4 nibble split packs them into 12 SUM-mable accumulators
    whose 16-bit counter lanes tolerate 65,535 votes.  The per-doc
    partial agg combines map-side (explode output is doc-contiguous), so
    the added shuffle carries ~one 13-long row per document.  Measured
    at sf1: 4.5 s warm vs 14.2 (3.2x), bit-identical buckets; the md5
    floor itself is 1.8 s.  Docs beyond the counter headroom fail LOUD
    (raise_error), not silently — chunk first (x_doc_chunk); a
    post-chunk doc with 65k DISTINCT tokens does not occur in practice.
    """
    from ..plans import spread

    # spread(): token explode + md5 + conv all map-side — single-core
    # on a one-task scan otherwise (round-13 rule)
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = F.array_distinct(F.split(F.col("text"), " "))
    ex = d.select("doc_id", F.explode(toks).alias("t")).select(
        "doc_id", F.md5("t").alias("h")
    )
    packed = []
    for ci, (start, length) in enumerate(_SIMHASH_CHUNKS):
        v = F.conv(F.substring("h", start, length), 16, 10).cast("long")
        b = F.shiftright(v, 3).bitwiseAND(F.lit(int("1" * length, 16)))
        for r in range(_SIMHASH_STRIDE):
            packed.append(
                b.bitwiseAND(F.lit(_simhash_stride_mask(length, r))).alias(
                    f"b{ci}_{r}"
                )
            )
    votes = (
        ex.select("doc_id", *packed)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            *[
                F.sum(f"b{ci}_{r}").alias(f"a{ci}_{r}")
                for ci in range(len(_SIMHASH_CHUNKS))
                for r in range(_SIMHASH_STRIDE)
            ],
        )
    )

    def counter(i: int):
        digit = i + 1
        for ci, (start, length) in enumerate(_SIMHASH_CHUNKS):
            if start <= digit < start + length:
                p = length - 1 - (digit - start)  # conv is MSB-first
                r = p % _SIMHASH_STRIDE
                return F.shiftright(
                    F.col(f"a{ci}_{r}"), 4 * p
                ).bitwiseAND(F.lit(0xFFFF))
        raise AssertionError(f"digit {digit} outside chunk map")

    fp = None
    for i in range(32):
        bit = F.when(
            2 * counter(i) > F.col("n"), F.lit(1 << i)
        ).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    guarded = F.when(
        F.col("n") > F.lit(0xFFFF),
        F.raise_error(
            F.lit(
                "x_dedup_simhash: document exceeds 65535 distinct "
                "tokens — counter lanes would overflow; run "
                "x_doc_chunk first"
            )
        ).cast("long"),
    ).otherwise(fp.cast("long"))
    return (
        votes.select("doc_id", guarded.alias("simhash32"))
        .groupBy("simhash32")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


@register(
    "x_dedup_near_embedding",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
               FROM embeddings WHERE vec_id < 300)
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           ROUND(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 6) AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.e, b.e)
                / (sqrt(list_dot_product(a.e, a.e))
                   * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.35
    """,
)
def x_dedup_near_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.35 — tuned to the fixture
    distribution, whose max pairwise cosine is ~0.46) over a bounded
    sample — the semantic-dedup family.  At 100 TB the pair generation runs
    inside LSH buckets (x_sim_lsh_bucketed codes), never as a cross join;
    the bounded sample keeps this EXACT form O(sample²) at every SF."""
    from .similarity import _as_double, dot

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    norms = e.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    a = norms.select(
        F.col("vec_id").alias("doc_a"),
        F.col("v").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = norms.select(
        F.col("vec_id").alias("doc_b"),
        F.col("v").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b")).select(
        "doc_a",
        "doc_b",
        F.round(
            dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
        ).alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= 0.35)


@register(
    "x_dedup_clusters",
    oracle="""
    WITH RECURSIVE
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e
          FROM embeddings WHERE vec_id < 300),
    pairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.e, b.e)
                  / (sqrt(list_dot_product(a.e, a.e))
                     * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.35),
    edges AS (SELECT src, dst FROM pairs
              UNION ALL SELECT dst, src FROM pairs),
    reach (id, lbl) AS (
      SELECT vec_id, vec_id FROM v
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS vec_id, MIN(lbl) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def x_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering of near-duplicate pairs → one
    canonical id (min member) per cluster — the step that turns pairwise
    near-dup evidence into keep/drop decisions.

    Distributed iterative label propagation: each round every node adopts
    the minimum label among itself and its neighbors; converges in
    O(diameter) rounds.  Lineage is truncated per round with
    localCheckpoint — the survival requirement for iterative algorithms on
    Spark (unbounded lineage otherwise re-executes every prior round).
    Oracle: the same fixpoint as a DuckDB recursive CTE (EXACT — an
    iterative algorithm with a value-checked result)."""
    from .similarity import _as_double, dot

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    norms = e.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    a = norms.select(
        F.col("vec_id").alias("src"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = norms.select(
        F.col("vec_id").alias("dst"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    pairs = (
        a.join(b, F.col("src") < F.col("dst"))
        .filter(
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            )
            >= 0.35
        )
        .select("src", "dst")
    )
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = e.select(
        F.col("vec_id").alias("id"), F.col("vec_id").alias("lbl")
    ).localCheckpoint()

    for _ in range(32):  # diameter bound; converges far earlier
        prop = edges.join(labels, edges.src == labels.id).select(
            F.col("dst").alias("id"), F.col("lbl")
        )
        new_labels = (
            labels.union(prop).groupBy("id").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("id").alias("vec_id"), F.col("lbl").alias("cluster_id"))


@register(
    "x_dedup_keep_best",
    oracle="""
    WITH RECURSIVE
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e
          FROM embeddings WHERE vec_id < 300),
    pairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.e, b.e)
                  / (sqrt(list_dot_product(a.e, a.e))
                     * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.35),
    edges AS (SELECT src, dst FROM pairs
              UNION ALL SELECT dst, src FROM pairs),
    reach (id, lbl) AS (
      SELECT vec_id, vec_id FROM v
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
    clusters AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
    scored AS (
      SELECT c.cluster_id, c.id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, c.id) AS rn
      FROM clusters c JOIN documents d ON d.doc_id = c.id)
    SELECT cluster_id, id AS keep_id, n_chars AS keep_n_chars
    FROM scored WHERE rn = 1
    """,
)
def x_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline composition: near-dup pairs → connected
    components → per-cluster keep-policy (longest document wins, id
    tiebreak).  This is the full shape of a production semantic-dedup
    stage: evidence → clustering → a deterministic survivor per cluster."""
    from pyspark.sql import Window

    clusters = x_dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = clusters.join(docs, clusters.vec_id == docs.doc_id)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("vec_id")
    )
    return (
        joined.select(
            "cluster_id",
            F.col("vec_id").alias("keep_id"),
            F.col("n_chars").alias("keep_n_chars"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "x_ngram_jaccard",
    oracle="""
    WITH sample_docs AS (SELECT doc_id, lang, text FROM documents WHERE doc_id < 150),
    toks AS (
      SELECT doc_id, lang, unnest(list_distinct(str_split(text, ' '))) AS tok
      FROM sample_docs),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM toks a JOIN toks b
        ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.8
    """,
)
def x_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard over a bounded sample (doc_id < 150), blocked
    by language — the *verification* operator.  At 100 TB this runs only on
    LSH candidate pairs (x_dedup_near_minhash), never on a cross product;
    the bounded sample keeps the oracle form O(sample²) at every SF."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_common")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


CONTAIN_THR = 0.8  # containment threshold for x_containment_dedup
CONTAIN_MIN_SHINGLES = 10  # ignore docs too short to assert containment
# Auto-knee hot-postings cap (VERDICT r10 item 2: "never run uncapped").
# The cap is COMPUTED FROM THE DATA with a rule deterministic enough to
# write in ANSI SQL, so the oracle applies the identical cap and the
# gate stays EXACT: p99 of the per-(shingle,lang) document frequency
# over a 1/16 deterministic shingle sample (md5 prefix — identical hex
# in Spark and DuckDB), with HEADROOM x p99 keeping moderately-popular
# but still discriminative shingles and FLOOR guaranteeing small-corpus
# recall (a shingle shared by <= 64 docs always counts).
CONTAIN_DF_FLOOR = 64
CONTAIN_DF_HEADROOM = 8
CONTAIN_PROFILE_PREFIX = "0"  # md5 LIKE '0%' = 1/16 sample


def shingle_array(text_col):
    """DISTINCT whitespace-token 3-shingles of a text column as an array
    expression — the exact unit x_containment_dedup's oracle computes
    with `l[i] || ' ' || l[i+1] || ' ' || l[i+2]` over
    generate_series(1, len-2) (property-parity pinned in
    tests/test_operators.py).  The size>=3 guard (inside shingles())
    matters: Spark's slice with a negative length errors where DuckDB's
    generate_series just emits an empty series for short docs.  Round 8:
    delegates to shingles(k=3) — the zip_with form whose slices evaluate
    once per row instead of re-splitting per element (see shingles())."""
    return F.array_distinct(shingles(text_col, 3))


@register(
    "x_containment_dedup",
    oracle=f"""
    WITH tok_lists AS (SELECT doc_id, lang, str_split(text, ' ') AS l
                       FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, lang,
             l[g.i] || ' ' || l[g.i+1] || ' ' || l[g.i+2] AS shingle
      FROM tok_lists, UNNEST(generate_series(1, len(l)-2)) AS g(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    -- auto-knee hot-postings cap, the same deterministic rule the
    -- Spark side computes: exact per-(shingle,lang) df of the 1/16
    -- md5-prefix shingle sample, p99 as a rank statistic off the df
    -- histogram, cap = max(FLOOR, HEADROOM * p99)
    prof AS (
      SELECT shingle, lang, COUNT(*) AS df FROM sh
      WHERE lang IS NOT NULL
        AND md5(shingle) LIKE '{CONTAIN_PROFILE_PREFIX}%'
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    hist AS (SELECT df, COUNT(*) AS cnt FROM prof GROUP BY df),
    tot AS (SELECT SUM(cnt) AS n FROM hist),
    cum AS (
      SELECT h.df, SUM(h2.cnt) AS cum
      FROM hist h JOIN hist h2 ON h2.df <= h.df GROUP BY h.df),
    p99 AS (
      SELECT MIN(df) AS p99_df FROM cum, tot
      WHERE cum >= (99 * n + 99) // 100),
    cap AS (
      SELECT GREATEST({CONTAIN_DF_FLOOR},
                      {CONTAIN_DF_HEADROOM} * COALESCE(p99_df, 0))
             AS max_df FROM p99),
    dfs AS (
      SELECT shingle, lang, COUNT(*) AS df FROM sh
      WHERE lang IS NOT NULL GROUP BY 1, 2),
    kept AS (
      SELECT s.doc_id, s.lang, s.shingle
      FROM sh s JOIN dfs d
        ON d.shingle = s.shingle AND d.lang = s.lang, cap
      WHERE d.df BETWEEN 2 AND cap.max_df),
    inter AS (
      SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
             COUNT(*) AS n_common
      FROM kept a JOIN kept b
        ON a.shingle = b.shingle AND a.lang = b.lang
           AND a.doc_id <> b.doc_id
      GROUP BY 1, 2)
    SELECT i.inner_id, i.outer_id, s.n AS n_inner, i.n_common,
           ROUND(CAST(i.n_common AS DOUBLE) / s.n, 6) AS containment
    FROM inter i JOIN sizes s ON s.doc_id = i.inner_id
    WHERE CAST(i.n_common AS DOUBLE) / s.n >= {CONTAIN_THR}
      AND s.n >= {CONTAIN_MIN_SHINGLES}
    """,
)
def x_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle-set containment
    C(inner→outer) = |sh(inner) ∩ sh(outer)| / |sh(inner)| — the measure
    that catches a short document quoted/embedded inside a long one,
    where symmetric Jaccard (x_ngram_jaccard, the minhash family) is
    diluted to ~|inner|/|outer| and never crosses a dedup threshold.
    The training-data case is boilerplate-wrapped reposts and
    quote-inflated pages; MinHash approximates Jaccard, not
    containment, so this is a genuinely separate operator.

    Mechanics: distinct 3-token shingles per doc (same shingle unit as
    the minhash family), then the INVERTED-INDEX shape proper: ONE
    groupBy keyed on (16-byte md5 digest of the shingle, lang) builds
    posting lists (the shingle string never reaches the exchange; see
    the digest comment below), single-doc postings are dropped
    map-side, ordered pairs are expanded from each posting list
    WITHOUT a second pass over the corpus, and the
    per-pair intersection counts aggregate on (inner, outer) doc-id
    pairs.  Runs over the FULL corpus — no bounded sample — because
    discriminative shingles keep posting lists short: total pair work
    is Σ_shingle |postings|², ≈ linear on real text (at sf1 the result
    is exactly the planted near-dup pairs × both directions).  Versus
    the naive shingle⋈shingle self-join this halves the big shuffles
    (one posting-list groupBy + one bounded pair aggregation instead of
    shuffling the 45M-row shingle relation on both join sides —
    measured 139 s → 50 s end-to-end at sf1 under the checker's
    8-partition config, both sides on the pre-r8 shingle builder; the
    round-8 zip_with shingles rebuild then cut the inverted-index form
    itself to ~28 s checker-wall / ~19 s spark-side at sf1 — the
    remaining cost is the one unavoidable O(corpus-shingles) groupBy).  The per-doc sizes join is deliberately
    UNHINTED: sizes is O(n_docs) rows — small at sf1 (~40k) but
    unbounded in the corpus size, so a forced broadcast() would be a
    driver/executor OOM on a billions-of-docs corpus and would override
    AQE's runtime size check.  Left unhinted, AQE broadcasts it whenever
    its measured size is under the threshold and falls back to a
    shuffled join when it isn't — the plan that survives 100 TB.  The
    other 100 TB guard is the hot-postings cap (below): dropping
    shingles whose document frequency exceeds a bound — the
    same skew/memory guard on collect_list that x_dedup_near_minhash's
    MAX_BUCKET applies to LSH buckets.  Ubiquitous-boilerplate shingles
    (site chrome, license headers) are the quadratic posting lists, and
    they carry no containment signal; discriminative shingles — the ones
    that make a planted pair cross the threshold — have short posting
    lists by definition, so a generous cap bounds Σ|postings|² while
    keeping recall on real contained pairs at 1.0
    (tests/test_weak_ops.py proves both properties on a synthetic
    boilerplate-heavy corpus).

    The op never runs uncapped.  The cap is sized from the data by a
    rule deterministic enough to mirror in the oracle SQL, so the gate
    stays EXACT while the cap is no hand-picked constant: an extra
    map-side pass computes the exact df of the 1/16 md5-prefix shingle
    sample (shuffle carries 1/16 of the shingle keyspace — cheaper
    than re-aggregating or caching the full postings relation, and no
    AQE cross-stage recompute of the main groupBy), p99 of that df
    profile is a rank statistic off its tiny histogram (self-join on
    |distinct df values| rows — no global window), and
    cap = max({CONTAIN_DF_FLOOR}, {CONTAIN_DF_HEADROOM} x p99), applied as one
    size() predicate on the aggregated posting lists (no shuffle beyond
    the sampled profile pass).  Boilerplate posting lists sit orders of
    magnitude above p99 and are dropped; discriminative shingles
    (df <= dup-cluster size) sit far below FLOOR and always count.  The
    round-10 sf10 probe measured WHY uncapped is fatal: 6.9e9
    candidate pairs / 48g OOM on a corpus whose every shingle was hot,
    vs a binding cap completing in 145 s.  Docs with fewer than
    {CONTAIN_MIN_SHINGLES} shingles are excluded as inner side — too
    short to assert containment.  Both directions are emitted (full
    mutual containment = two rows), which is what a survivor policy
    downstream consumes (drop inner, keep outer)."""
    from ..plans import spread

    # spread(): three map passes (postings explode, sampled df profile,
    # per-doc sizes) all serialize on a one-task scan otherwise
    # (round-13 rule)
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # Round 14 (VERDICT r13 item 1): the corpus-wide postings shuffle keys
    # on a FIXED-WIDTH 16-byte md5 digest of the shingle instead of the
    # variable ~20-30-byte shingle string (the x_dedup_exact_hash
    # digest-not-text precedent, §2.3 "narrower types" applied to the
    # key).  The shingle string itself never appears in this op's output
    # — only posting-list doc ids do — so equality-by-digest is the same
    # grouping (md5 collision-free at corpus scale, the same assumption
    # x_dedup_exact_hash's semantics already rest on), the shuffled bytes
    # drop by ~the string width, and every downstream hash/compare runs
    # on fixed-width binary.  The md5 was ALREADY being computed once per
    # occurrence for the 1/16 profile sample filter; the digest key makes
    # that hash do double duty (the hex form feeds the sample predicate,
    # unhex packs it to 16 bytes for the exchange).
    sh = d.select(
        "doc_id", "lang", F.explode(shingle_array(F.col("text"))).alias("shingle")
    ).select("doc_id", "lang", F.md5("shingle").alias("sh_hex"))
    # per-doc shingle counts MAP-SIDE from the (already-distinct) array
    # — the former explode + doc_id groupBy re-shuffled the whole 45M-row
    # shingle relation just to count it (r11 continuation; output
    # identical, sizes is |distinct shingles| either way)
    sizes = d.select(
        "doc_id", F.size(shingle_array(F.col("text"))).alias("n")
    ).filter(F.col("n") > 0)
    # NULL-lang docs never pair (the oracle's a.lang = b.lang join drops
    # NULLs; groupBy would silently group them together)
    postings = (
        sh.filter(F.col("lang").isNotNull())
        .select("doc_id", "lang", F.unhex("sh_hex").alias("sh_dig"))
        .groupBy("sh_dig", "lang")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    # exact dfs of the deterministic 1/16 shingle sample; p99 as a
    # rank statistic over the df HISTOGRAM (tiny: |distinct df
    # values| rows), cumulated by self-join — no global window,
    # no second pass over the full postings aggregation
    prof = (
        sh.filter(F.col("lang").isNotNull())
        .filter(F.col("sh_hex").startswith(CONTAIN_PROFILE_PREFIX))
        .select("lang", F.unhex("sh_hex").alias("sh_dig"))
        .groupBy("sh_dig", "lang")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
    )
    hist = prof.groupBy("df").agg(F.count("*").alias("cnt"))
    h2 = hist.select(F.col("df").alias("df2"), F.col("cnt").alias("cnt2"))
    cum = (
        hist.join(h2, F.col("df2") <= F.col("df"))
        .groupBy("df")
        .agg(F.sum("cnt2").alias("cum"))
    )
    tot = hist.agg(F.sum("cnt").alias("n_lists"))
    p99 = (
        cum.crossJoin(tot)
        .filter(F.col("cum") >= F.expr("(99 * n_lists + 99) div 100"))
        .agg(F.min("df").alias("p99_df"))
    )
    cap = p99.select(
        F.greatest(
            F.lit(CONTAIN_DF_FLOOR),
            F.lit(CONTAIN_DF_HEADROOM) * F.coalesce(F.col("p99_df"), F.lit(0)),
        ).alias("cap_df")
    )
    # unhinted: cap is ONE row — AQE broadcasts it from its own size
    # estimate, and this op's plan pin requires zero forced hints
    postings = postings.crossJoin(cap).filter(F.size("ds") <= F.col("cap_df"))
    # packed single-long pair key through the near-unique-key count
    # (the co_catalog_postings rule, round 13): doc ids are positive
    # ints < 2^31, so shiftleft(inner,32)+outer is collision-free —
    # half the key bytes, one long hash/compare; unpacked after
    inter = (
        postings.select(F.explode("ds").alias("inner_id"), "ds")
        .select("inner_id", F.explode("ds").alias("outer_id"))
        .filter(F.col("inner_id") != F.col("outer_id"))
        .select(
            (
                F.shiftleft(F.col("inner_id").cast("long"), 32)
                + F.col("outer_id").cast("long")
            ).alias("pk")
        )
        .groupBy("pk")
        .agg(F.count("*").alias("n_common"))
        .select(
            F.shiftright(F.col("pk"), 32).alias("inner_id"),
            F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("outer_id"),
            "n_common",
        )
    )
    s = sizes.alias("s")
    cont = F.col("n_common").cast("double") / F.col("s.n")
    return (
        # unhinted: sizes is O(n_docs); AQE broadcasts iff actually small
        inter.join(s, F.col("inner_id") == F.col("s.doc_id"))
        .filter((cont >= CONTAIN_THR) & (F.col("s.n") >= CONTAIN_MIN_SHINGLES))
        .select(
            "inner_id",
            "outer_id",
            F.col("s.n").alias("n_inner"),
            "n_common",
            F.round(cont, 6).alias("containment"),
        )
    )


PREFIX_K = 10  # tokens of leading boilerplate compared by x_dedup_prefix


@register(
    "x_dedup_prefix",
    oracle=f"""
    SELECT md5(array_to_string(str_split(text, ' ')[1:{PREFIX_K}], ' '))
               AS prefix_h,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keep_id,
           CAST(SUM(doc_id) AS BIGINT) AS ids_sum
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) >= 2
    """,
)
def x_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-duplicate detection: cluster documents sharing their first
    {PREFIX_K} tokens — the boilerplate-header signature (scraped pages
    that open identically but diverge later defeat whole-document exact
    dedup and are expensive for MinHash).  Hash-of-prefix groupBy, so the
    shuffle carries 32-byte digests exactly like x_dedup_exact_hash; the
    ids checksum pins identical cluster membership across engines.
    DuckDB list slicing l[1:k] is inclusive of the end bound, matching
    Spark's slice(arr, 1, k) length-k semantics."""
    d = load_table(spark, sf_dir, "documents")
    prefix_h = F.md5(
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, PREFIX_K), " ")
    )
    return (
        d.groupBy(prefix_h.alias("prefix_h"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
            F.sum("doc_id").alias("ids_sum"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "x_dedup_incremental",
    oracle=f"""
    WITH t AS (SELECT doc_id, str_split(text, ' ') AS l FROM documents),
    sh AS (SELECT doc_id,
             CASE WHEN len(l) >= {SHINGLE_K} THEN
               list_distinct([array_to_string(l[i:i+{SHINGLE_K - 1}], ' ')
                              for i in range(1, len(l) - {SHINGLE_K - 2})])
             ELSE [] END AS s
           FROM t),
    ex AS (SELECT doc_id, len(s) AS ns, UNNEST(s) AS g FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ANY_VALUE(a.ns) AS na, ANY_VALUE(b.ns) AS nb, COUNT(*) AS c
      FROM ex a JOIN ex b
        ON a.g = b.g AND a.doc_id < b.doc_id
       AND (a.doc_id % 5 = 4 OR b.doc_id % 5 = 4)
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (na + nb - c) AS jaccard
    FROM common
    WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5
    """,
)
def x_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: dedup an ARRIVING batch (here: doc_id % 5
    == 4 plays the newly-ingested 20%) against the already-indexed corpus
    without re-signaturing the old documents — the pattern that keeps a
    continuously-growing 100 TB corpus dedupable.  For CANDIDATE
    GENERATION the old corpus participates only through its stored LSH
    index (banded_signatures — three longs per (doc, band), materialized
    here via localCheckpoint to stand in for the index table a real
    deployment persists alongside the corpus); the index also contains
    the batch's own banded rows, so batch-vs-batch pairs come out of the
    same join with no separate self-join.  Per batch the candidate work
    is O(batch) signature computation + a (band, bucket) join against
    the index.  The exact-Jaccard VERIFICATION step, however, joins
    candidates back to the corpus-wide shingle frame `sh` — in a real
    deployment the old side of that join must come from a persisted
    shingle/signature table too, or verification would re-shingle old
    docs; the candidate-only join keys keep even that step O(candidates),
    not O(corpus).  The oracle is the full all-pairs ground truth
    restricted to pairs involving a new doc, so the gate checks precision
    AND recall of the incremental path exactly like x_dedup_near_minhash's
    (same J >= 0.95 fixture-recall contract; see that docstring for the
    banding-probability caveat)."""
    from ..plans import spread

    d = load_table(spark, sf_dir, "documents")
    sh = (
        spread(d, "doc_id")
        .select("doc_id", F.array_distinct(shingles(F.col("text"))).alias("sh"))
        .persist()
    )
    # the stored index: banded signatures of the WHOLE corpus as of the
    # previous ingest cycle plus this batch's own rows (a real deployment
    # appends the batch's rows to the index table after the join)
    index = banded_signatures(sh).localCheckpoint(eager=True)
    new_bands = index.filter(F.col("doc_id") % 5 == 4)
    cand = (
        new_bands.alias("n")
        .join(
            index.alias("i"),
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.bucket") == F.col("i.bucket"))
            & (F.col("n.doc_id") != F.col("i.doc_id")),
        )
        .select(
            F.least("n.doc_id", "i.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "i.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    a = sh.alias("sa")
    b = sh.alias("sb")
    pairs = (
        cand.join(a, cand.doc_a == F.col("sa.doc_id"))
        .join(b, cand.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sa.sh", "sb.sh")).cast("double")
                / F.size(F.array_union("sa.sh", "sb.sh"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    try:
        return pairs.localCheckpoint(eager=True)
    finally:
        sh.unpersist()


@register(
    "x_contam_estimate",
    oracle=f"""
    WITH t AS (SELECT doc_id, str_split(text, ' ') AS l FROM documents),
    sh AS (SELECT doc_id,
             CASE WHEN len(l) >= {SHINGLE_K} THEN
               [array_to_string(l[i:i+{SHINGLE_K - 1}], ' ')
                for i in range(1, len(l) - {SHINGLE_K - 2})]
             ELSE [] END AS s
           FROM t),
    grams AS (SELECT doc_id, unnest(s) AS g FROM sh),
    corpus AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 != 0),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0)
    SELECT (SELECT COUNT(*) FROM corpus c JOIN bench b ON c.g = b.g)
               AS exact_shared,
           TRUE AS estimate_within_2pct_of_union
    """,
)
def x_contam_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale contamination ESTIMATION: how many distinct
    {SHINGLE_K}-grams does the training corpus share with the benchmark
    set?  x_decontaminate answers this exactly by joining n-grams; at
    100 TB you first want the cheap answer — two theta sketches (one per
    side, built in one pass, kilobytes each) intersected to estimate the
    shared-gram cardinality, deciding WHETHER the exact decontamination
    join is worth scheduling.  Benchmark = doc_id % 10 == 0 (same
    fixture-split convention as x_dedup_incremental's arriving batch).

    Error contract (round 11): theta INTERSECTION error is relative to
    the UNION cardinality, not the intersection — on the Zipf fixture
    the shared grams are a ~2% sliver of a ~3M-gram union and the old
    within-5%-of-truth claim is not what the sketch guarantees (it
    failed the sf1 gate the round the fixture became text-like).  The
    emitted bound is now the sketch's own: |est − exact| ≤ 2% of the
    exact union, with lgNomEntries=16 (65k entries, per-sketch RSE
    ~0.4%, intersection error ~3×RSE×union ≪ 2%·union).  The DECISION
    semantics are unchanged — 'is contamination material?' is a
    union-relative question at corpus scale."""
    from ..plans import spread

    # spread(): the gram explode feeds the sketch pass AND the exact
    # join's two sides — all single-core on a one-task scan otherwise
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    grams = d.select(
        "doc_id", F.explode(F.array_distinct(shingles(F.col("text")))).alias("g")
    )
    sk = grams.agg(
        F.theta_sketch_agg(
            F.when(F.col("doc_id") % 10 != 0, F.col("g")), 16
        ).alias("sk_corpus"),
        F.theta_sketch_agg(
            F.when(F.col("doc_id") % 10 == 0, F.col("g")), 16
        ).alias("sk_bench"),
    ).select(
        F.theta_sketch_estimate(
            F.theta_intersection("sk_corpus", "sk_bench")
        ).alias("est_shared"),
        # union size from the SAME sketches (±0.4% — fine for a 2%
        # bound) so the bound costs zero extra corpus passes
        F.theta_sketch_estimate(
            F.theta_union("sk_corpus", "sk_bench", 16)
        ).alias("est_union"),
    )
    corpus = grams.filter(F.col("doc_id") % 10 != 0).select("g").distinct()
    bench = grams.filter(F.col("doc_id") % 10 == 0).select("g").distinct()
    exact = (
        corpus.join(bench, "g")
        .agg(F.count("*").alias("exact_shared"))
    )
    return exact.crossJoin(sk).select(
        "exact_shared",
        (
            F.abs(F.col("est_shared") - F.col("exact_shared"))
            <= 0.02 * F.col("est_union")
        ).alias("estimate_within_2pct_of_union"),
    )


SPAN_K = 40  # span resolution (chars); offsets stride by SPAN_K
SPAN_DROP_RATIO = 0.5


@register(
    "x_dedup_span",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE text IS NOT NULL),
    sp AS (
      SELECT doc_id, md5(substr(text, g.i, {SPAN_K})) AS h
      FROM d, UNNEST(generate_series(1, n - {SPAN_K - 1}, {SPAN_K})) AS g(i)),
    dup AS (
      SELECT h FROM sp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    per AS (
      SELECT sp.doc_id, COUNT(*) AS n_spans,
             CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_spans
      FROM sp LEFT JOIN dup ON sp.h = dup.h
      GROUP BY sp.doc_id)
    SELECT d.doc_id,
           COALESCE(n_spans, 0) AS n_spans,
           COALESCE(n_dup_spans, 0) AS n_dup_spans,
           ROUND(CASE WHEN COALESCE(n_spans, 0) = 0 THEN 0.0
                      ELSE CAST(n_dup_spans AS DOUBLE) / n_spans END,
                 6) AS dup_ratio,
           (ROUND(CASE WHEN COALESCE(n_spans, 0) = 0 THEN 0.0
                       ELSE CAST(n_dup_spans AS DOUBLE) / n_spans END,
                  6) >= {SPAN_DROP_RATIO}) AS drop_doc
    FROM d LEFT JOIN per ON d.doc_id = per.doc_id
    """,
)
def x_dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-SPAN detection (round 8): find {SPAN_K}-char character
    spans that recur across DISTINCT documents and flag documents whose
    span mass is mostly duplicated — the span-level member of the dedup
    family (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", removes repeated ~50-token substrings that survive
    document-level dedup: boilerplate, licenses, quoted passages).
    Document-level ops (x_dedup_exact/_near_minhash/_prefix/
    x_containment_dedup) answer "is this DOC a copy?"; this answers
    "how much of this doc's TEXT exists elsewhere?".

    Spans are taken at stride {SPAN_K} (offsets 1, {SPAN_K}+1, …), so a
    cross-doc duplicate is detected when the shared region is aligned to
    the stride in both documents — exact copies, shared prefixes, and
    template boilerplate all are, which is the dominant case; an
    unaligned interior quote needs the suffix-array construction the
    paper uses, deliberately out of scope (stride keeps span count at
    n_chars/{SPAN_K} per doc — LINEAR, shuffle-bounded, where
    every-offset spans are {SPAN_K}x that and a suffix array is not a
    data-parallel shuffle shape at all).

    100 TB posture: spans ride the shuffle as md5 DIGESTS (32-hex,
    engine-identical — the grouping key is never output, but hashing in
    BOTH engines keeps the oracle exact while the shuffle carries
    fixed-width keys instead of raw {SPAN_K}-char text — the same
    digest-width-shuffle rule as x_dedup_exact_hash); the dup-span
    relation is unbounded (grows with corpus boilerplate), so its join
    back to spans is UNHINTED — AQE broadcasts when it is small, shuffles
    when it is not (VERDICT r6).  Both flag thresholds compare ROUNDED
    ratios, so the keep/drop decision is bit-identical across engines."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    n = F.length("text")
    spans = (
        d.where(n >= SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), n - F.lit(SPAN_K - 1), F.lit(SPAN_K))
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id",
            F.md5(F.col("text").substr(F.col("i"), F.lit(SPAN_K))).alias("h"),
        )
    )
    dup = (
        spans.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("isdup"))
    )
    per = (
        spans.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.coalesce(F.col("isdup"), F.lit(0))).alias("n_dup_spans"),
        )
    )
    ratio = F.round(
        F.when(F.coalesce("n_spans", F.lit(0)) == 0, F.lit(0.0)).otherwise(
            F.col("n_dup_spans").cast("double") / F.col("n_spans")
        ),
        6,
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            ratio.alias("dup_ratio"),
            (ratio >= F.lit(SPAN_DROP_RATIO)).alias("drop_doc"),
        )
    )


@register(
    "x_source_overlap",
    oracle=f"""
    WITH t AS (SELECT source, str_split(text, ' ') AS l FROM documents),
    sh AS (SELECT source,
             CASE WHEN len(l) >= {SHINGLE_K} THEN
               list_distinct([array_to_string(l[i:i+{SHINGLE_K - 1}], ' ')
                              for i in range(1, len(l) - {SHINGLE_K - 2})])
             ELSE [] END AS s
           FROM t),
    ex AS (SELECT DISTINCT source, md5(UNNEST(s)) AS h FROM sh),
    sizes AS (SELECT source, COUNT(*) AS n FROM ex GROUP BY source),
    common AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM ex a JOIN ex b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2)
    SELECT c.src_a, c.src_b, c.n_common,
           sa.n AS n_a, sb.n AS n_b,
           ROUND(CAST(c.n_common AS DOUBLE)
                 / (sa.n + sb.n - c.n_common), 6) AS jaccard,
           ROUND(CAST(c.n_common AS DOUBLE)
                 / LEAST(sa.n, sb.n), 6) AS containment
    FROM common c
    JOIN sizes sa ON sa.source = c.src_a
    JOIN sizes sb ON sb.source = c.src_b
    """,
)
def x_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level overlap matrix: for every source pair, how much
    shingle vocabulary they share (Jaccard) and how much of the smaller
    source is contained in the larger — the data-governance view of the
    dedup family ("which sources republish each other / mirror a common
    upstream"), aggregated above document granularity so it works even
    when no two documents are whole-text identical.

    ONE corpus-sized shuffle: shingles become md5 digests map-side and
    groupBy(h) with partial collect_set builds per-shingle SOURCE
    posting lists — bounded by |sources| (tens), never by corpus size,
    so there is no hot-postings problem (contrast x_containment_dedup,
    whose doc-id posting lists need a document-frequency cap).  Ordered
    pairs expand map-side from each sorted posting list (two Generates);
    pair counts partial-aggregate on a key space bounded by |sources|²;
    per-source vocabulary sizes come from re-exploding the posting relation
    (|shingle vocab|-sized, NOT the corpus) and the final joins are
    |sources|-row broadcasts."""
    from ..plans import spread

    # spread(): shingle build + md5 is the dominant map work and the
    # scan is one task on a single-file fixture (round-13 rule)
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    ex = d.select(
        "source", F.explode(shingle_array(F.col("text"))).alias("g")
    ).select("source", F.md5("g").alias("h"))
    posting = (
        ex.groupBy("h")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .localCheckpoint()
    )
    sizes = (
        posting.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    common = (
        posting.filter(F.size("srcs") >= 2)
        .select(F.explode("srcs").alias("src_a"), "srcs")
        .select("src_a", F.explode("srcs").alias("src_b"))
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    nc = F.col("n_common").cast("double")
    return (
        common.join(broadcast(sa), "src_a")
        .join(broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(nc / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6)
                .alias("jaccard"),
            F.round(nc / F.least("n_a", "n_b"), 6).alias("containment"),
        )
    )


# SemDeDup (Abbas et al. 2023): k-means-cluster the embedding space,
# then dedup ONLY within clusters.  Centroids are seeded from the K
# lowest vec_ids and refined by ONE Lloyd step (element-wise member
# mean, rounded to 6 decimals so the refined coordinates are identical
# across engines before any downstream cosine touches them).
SEM_K = 8
SEM_TAU = 0.35
SEM_SAMPLE = 300
_COS = (
    "ROUND(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), 6)"
)


# shared seeded-kmeans assignment CTE: v (bounded sample) -> seeded
# centroids -> one Lloyd step (6dp-rounded coordinates) -> a1 =
# (vec_id, e, cell, cos_c).  Used by x_dedup_semantic AND
# x_cluster_purity so both oracles replay the identical geometry.
_SEM_CELLS_CTE = f"""
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e
               FROM embeddings WHERE vec_id < {SEM_SAMPLE}),
    c0 AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < {SEM_K}),
    a0 AS (
      SELECT vec_id, e, cell0 FROM (
        SELECT v.vec_id, v.e, c0.cid AS cell0,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_COS.format(a='v.e', b='c0.c')} DESC, c0.cid
               ) AS rk
        FROM v, c0) WHERE rk = 1),
    exd AS (SELECT cell0, g.i AS i, e[g.i] AS val
            FROM a0, UNNEST(generate_series(1, len(e))) AS g(i)),
    cm AS (SELECT cell0, i, ROUND(AVG(val), 6) AS cv
           FROM exd GROUP BY cell0, i),
    c1 AS (SELECT cell0 AS cid, list(cv ORDER BY i) AS c
           FROM cm GROUP BY cell0),
    a1 AS (
      SELECT vec_id, e, cell, cos_c FROM (
        SELECT v.vec_id, v.e, c1.cid AS cell,
               {_COS.format(a='v.e', b='c1.c')} AS cos_c,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_COS.format(a='v.e', b='c1.c')} DESC, c1.cid
               ) AS rk
        FROM v, c1) WHERE rk = 1)"""


def semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _SEM_CELLS_CTE: (vec_id, e, cell, cos_c) after
    seeded assignment + one 6dp-rounded Lloyd step."""
    from pyspark.sql import Window

    from .similarity import _as_double, dot

    v = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < SEM_SAMPLE)
        .select("vec_id", _as_double(F.col("embedding")).alias("e"))
    )
    c0 = v.filter(F.col("vec_id") < SEM_K).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("c")
    )

    def cos(a, b):
        return F.round(dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))), 6)

    w0 = Window.partitionBy("vec_id").orderBy(F.col("cos0").desc(), "cid")
    a0 = (
        v.crossJoin(broadcast(c0))
        .select(
            "vec_id", "e", "cid", cos(F.col("e"), F.col("c")).alias("cos0")
        )
        .withColumn("rk", F.row_number().over(w0))
        .filter(F.col("rk") == 1)
        .select("vec_id", "e", F.col("cid").alias("cell0"))
    )
    exd = a0.select("cell0", F.posexplode("e").alias("i", "val"))
    c1 = (
        exd.groupBy("cell0", "i")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
        .groupBy("cell0")
        .agg(F.array_sort(F.collect_list(F.struct("i", "cv"))).alias("sc"))
        .select(F.col("cell0").alias("cid"), F.col("sc.cv").alias("c"))
    )
    w1 = Window.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), "cid")
    return (
        v.crossJoin(broadcast(c1))
        .select(
            "vec_id", "e", "cid", cos(F.col("e"), F.col("c")).alias("cos_c")
        )
        .withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") == 1)
        .select("vec_id", "e", F.col("cid").alias("cell"), "cos_c")
    )


@register(
    "x_dedup_semantic",
    oracle=f"""
    WITH {_SEM_CELLS_CTE},
    nb AS (
      SELECT DISTINCT a.vec_id
      FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      WHERE {_COS.format(a='a.e', b='b.e')} >= {SEM_TAU}
        AND (b.cos_c < a.cos_c
             OR (b.cos_c = a.cos_c AND b.vec_id < a.vec_id)))
    SELECT a1.vec_id, a1.cell, a1.cos_c,
           (nb.vec_id IS NOT NULL) AS dropped
    FROM a1 LEFT JOIN nb ON nb.vec_id = a1.vec_id
    """,
)
def x_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic deduplication: k-means cells
    bound the pairwise work, then near-identical embeddings WITHIN a cell
    are deduplicated keeping the member FARTHEST from the centroid (the
    paper's keep-low-centroid-similarity rule, tiebroken on vec_id).
    Distinct from x_dedup_near_embedding (global pairwise over a bounded
    sample) and x_sim_topk_ivf (cell-probed SEARCH): this is the
    cluster-scoped dedup pipeline — assignment, one Lloyd refinement
    step, in-cell pairwise, survivor policy — end to end.

    Cross-engine exactness: refined centroid coordinates are element-wise
    member means ROUNDED to 6 decimals before any cosine; every cosine is
    rounded to 6; assignment ranks (rounded cosine DESC, centroid id);
    the drop rule is a pure comparison on those rounded values.

    100 TB posture: K scales as N/target_cell_size so in-cell pairwise
    stays bounded (the paper runs K=50k over 5B embeddings); assignment
    is a broadcast cross join against the K-row centroid relation +
    one row_number window keyed on vec_id; the Lloyd step is a
    posexplode -> (cell, dim) partial agg (K x dim groups) -> rebuild.
    Here the sample is bounded at {SEM_SAMPLE} vectors / K={SEM_K} so the
    EXACT all-pairs-in-cell form is checkable at every SF."""
    from .similarity import dot

    def cos(a, b):
        return F.round(dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))), 6)

    a1 = semantic_cells(spark, sf_dir)
    left = a1.select(
        F.col("vec_id").alias("va"),
        F.col("e").alias("ea"),
        "cell",
        F.col("cos_c").alias("ca"),
    )
    right = a1.select(
        F.col("vec_id").alias("vb"),
        F.col("e").alias("eb"),
        "cell",
        F.col("cos_c").alias("cb"),
    )
    nb = (
        left.join(right, "cell")
        .filter(F.col("va") != F.col("vb"))
        .filter(cos(F.col("ea"), F.col("eb")) >= SEM_TAU)
        .filter(
            (F.col("cb") < F.col("ca"))
            | ((F.col("cb") == F.col("ca")) & (F.col("vb") < F.col("va")))
        )
        .select(F.col("va").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return a1.join(broadcast(nb), "vec_id", "left").select(
        "vec_id",
        "cell",
        "cos_c",
        F.coalesce("dropped", F.lit(False)).alias("dropped"),
    )


@register(
    "x_dup_graph_degree",
    oracle=f"""
    WITH t AS (SELECT doc_id, str_split(text, ' ') AS l FROM documents),
    sh AS (SELECT doc_id,
             CASE WHEN len(l) >= {SHINGLE_K} THEN
               list_distinct([array_to_string(l[i:i+{SHINGLE_K - 1}], ' ')
                              for i in range(1, len(l) - {SHINGLE_K - 2})])
             ELSE [] END AS s
           FROM t),
    ex AS (SELECT doc_id, len(s) AS ns, UNNEST(s) AS g FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ANY_VALUE(a.ns) AS na, ANY_VALUE(b.ns) AS nb, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b FROM common
              WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
    ends AS (SELECT doc_a AS doc_id FROM pairs
             UNION ALL SELECT doc_b AS doc_id FROM pairs),
    deg AS (SELECT doc_id, COUNT(*) AS degree FROM ends GROUP BY doc_id),
    alld AS (SELECT d.doc_id, COALESCE(g.degree, 0) AS degree
             FROM documents d LEFT JOIN deg g ON g.doc_id = d.doc_id)
    SELECT degree, COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS ids_sum
    FROM alld GROUP BY degree
    """,
)
def x_dup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-graph degree profile: how many >= 0.5-Jaccard near-dup
    partners each document has, histogrammed over the WHOLE corpus
    (degree 0 = unique documents) — the corpus-duplication-structure
    statistic that decides how aggressive dedup must be (a long-degree
    tail means template/boilerplate families; a thin one means isolated
    copies).  Edges come from the same banded-MinHash candidate + exact
    verify pipeline as x_dedup_near_minhash (its recall contract — seeded
    hash family, tests/test_minhash_recall.py — carries over verbatim);
    the ids_sum checksum pins that both engines put the SAME documents in
    each degree bucket.

    ORACLE RECALL DEPENDENCY (ADVICE r8 item 3): the oracle enumerates
    ALL pairs with exact Jaccard >= 0.5, while the Spark side only sees
    banded-MinHash candidate pairs — the EXACT gate therefore requires
    the hash family to achieve recall 1.0 at the 0.5 threshold on the
    fixture.  That is a TESTED invariant, not luck:
    tests/test_minhash_recall.py asserts full recall on every driver
    fixture AND that regenerated fixtures stay in the analytic
    high-recall regime; any fixture regeneration must keep those tests
    green before this op's gate is trusted.

    100 TB posture: the edge relation is dup-evidence-sized (tiny vs the
    corpus), so its degree count and the broadcast back onto the
    documents spine add one small shuffle on doc_id + one partial-agg
    shuffle on degree to the minhash pipeline's cost."""
    pairs = minhash_pairs_artifact(spark, sf_dir)
    ends = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count("*").alias("degree"))
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    alld = d.join(broadcast(deg), "doc_id", "left").select(
        "doc_id", F.coalesce("degree", F.lit(0)).alias("degree")
    )
    return alld.groupBy("degree").agg(
        F.count("*").alias("n_docs"), F.sum("doc_id").alias("ids_sum")
    )


@register(
    "x_cluster_purity",
    oracle=f"""
    WITH {_SEM_CELLS_CTE},
    lab AS (SELECT a1.vec_id, a1.cell, e2.label
            FROM a1 JOIN embeddings e2 ON e2.vec_id = a1.vec_id),
    cl AS (SELECT cell, label, COUNT(*) AS n
           FROM lab GROUP BY cell, label),
    mj AS (SELECT cell, label AS majority_label, n AS n_majority FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
                                          ORDER BY n DESC, label) AS rk
             FROM cl) WHERE rk = 1),
    sz AS (SELECT cell, CAST(SUM(n) AS BIGINT) AS n_members
           FROM cl GROUP BY cell)
    SELECT sz.cell, sz.n_members, mj.majority_label,
           CAST(mj.n_majority AS BIGINT) AS n_majority,
           ROUND(CAST(mj.n_majority AS DOUBLE) / sz.n_members, 6)
               AS cell_purity,
           ROUND(CAST(SUM(mj.n_majority) OVER () AS DOUBLE)
                 / SUM(sz.n_members) OVER (), 6) AS global_purity
    FROM sz JOIN mj ON mj.cell = sz.cell
    """,
)
def x_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation: label purity of the seeded-kmeans
    cells (the x_dedup_semantic geometry, shared helper) against the
    embeddings' stored labels — majority-label fraction per cell and
    corpus-wide.  THE metric that says whether unsupervised cells track
    the supervised signal (i.e. whether cell-scoped semantic dedup /
    IVF probing respects label structure); majority ties break on the
    lower label id so both engines elect the same winner.

    100 TB posture: everything after the shared assignment runs on
    (cell, label) count relations — K x |labels| rows; the label join
    broadcasts the bounded sample."""
    lab = semantic_cells(spark, sf_dir).select("vec_id", "cell")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cl = (
        lab.join(emb, "vec_id")
        .groupBy("cell", "label")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql import Window

    wc = Window.partitionBy("cell").orderBy(F.col("n").desc(), "label")
    mj = (
        cl.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") == 1)
        .select(
            "cell",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )
    sz = cl.groupBy("cell").agg(F.sum("n").alias("n_members"))
    wall = Window.partitionBy()
    return (
        sz.join(mj, "cell")
        .select(
            "cell",
            "n_members",
            "majority_label",
            F.col("n_majority").cast("long").alias("n_majority"),
            F.round(
                F.col("n_majority").cast("double") / F.col("n_members"), 6
            ).alias("cell_purity"),
            F.round(
                F.sum("n_majority").over(wall).cast("double")
                / F.sum("n_members").over(wall),
                6,
            ).alias("global_purity"),
        )
    )


@register(
    "x_dup_ratio_by_source",
    oracle="""
    WITH h AS (SELECT doc_id, source, md5(text) AS hh FROM documents),
    hc AS (SELECT hh, COUNT(*) AS c FROM h GROUP BY hh)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN hc.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           ROUND(CAST(SUM(CASE WHEN hc.c > 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS dup_ratio
    FROM h JOIN hc ON hc.hh = h.hh
    GROUP BY source
    """,
)
def x_dup_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication profile: the share of each source's
    documents whose full-text digest appears more than once ANYWHERE in
    the corpus — the provenance-level duplication audit that tells a
    data buyer which feeds are boilerplate mills before any dedup runs
    (x_source_overlap answers the pairwise question; this is the
    per-source marginal).

    Cross-engine exactness: md5 digests and integer counts; one rounded
    ratio.

    100 TB posture: the digest is computed BEFORE the shuffle (the
    x_dedup_exact_hash discipline — wide stages move 32-byte keys, not
    documents); the global digest-count relation joins back on the
    digest (AQE broadcasts it when duplication evidence is small) and
    the rollup is |sources| groups."""
    d = load_table(spark, sf_dir, "documents")
    h = d.select("doc_id", "source", F.md5(F.col("text")).alias("hh"))
    hc = h.groupBy("hh").agg(F.count("*").alias("c"))
    return (
        h.join(hc, "hh")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias(
                "n_dup_docs"
            ),
            F.round(
                F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("dup_ratio"),
        )
    )


@register(
    "x_dup_cross_lang",
    oracle=f"""
    WITH t AS (SELECT doc_id, str_split(text, ' ') AS l FROM documents),
    sh AS (SELECT doc_id,
             CASE WHEN len(l) >= {SHINGLE_K} THEN
               list_distinct([array_to_string(l[i:i+{SHINGLE_K - 1}], ' ')
                              for i in range(1, len(l) - {SHINGLE_K - 2})])
             ELSE [] END AS s
           FROM t),
    ex AS (SELECT doc_id, len(s) AS ns, UNNEST(s) AS g FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ANY_VALUE(a.ns) AS na, ANY_VALUE(b.ns) AS nb, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b FROM common
              WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
    langed AS (
      SELECT LEAST(da.lang, db.lang) AS lang_a,
             GREATEST(da.lang, db.lang) AS lang_b
      FROM pairs
      JOIN documents da ON da.doc_id = pairs.doc_a
      JOIN documents db ON db.doc_id = pairs.doc_b)
    SELECT lang_a, lang_b, lang_a <> lang_b AS cross_lang,
           COUNT(*) AS n_pairs
    FROM langed GROUP BY lang_a, lang_b
    """,
)
def x_dup_cross_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate language matrix: the x_dedup_near_minhash pair
    relation joined back to each endpoint's language, rolled up per
    normalized (lang_a <= lang_b) pair with a cross_lang flag — the
    audit that separates intra-language boilerplate (dedup's job) from
    CROSS-language duplication (translation artifacts / template
    localization, which token-level dedup thresholds usually miss and
    which leaks eval translations into training data).

    Inherits the minhash pipeline's recall-1.0 oracle dependency
    (x_dup_graph_degree's documented contract —
    tests/test_minhash_recall.py pins it).

    100 TB posture: adds two doc-keyed joins of the dup-evidence-sized
    pair relation against the (doc_id, lang) projection (AQE
    broadcasts the pairs when duplication evidence is small) and a
    |langs|²-group rollup to the minhash pipeline's cost."""
    pairs = minhash_pairs_artifact(spark, sf_dir).select("doc_a", "doc_b")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    da = d.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("la")
    )
    db = d.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lb")
    )
    langed = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.least("la", "lb").alias("lang_a"),
            F.greatest("la", "lb").alias("lang_b"),
        )
    )
    return langed.groupBy("lang_a", "lang_b").agg(
        F.count("*").alias("n_pairs")
    ).select(
        "lang_a",
        "lang_b",
        (F.col("lang_a") != F.col("lang_b")).alias("cross_lang"),
        "n_pairs",
    )


FUZZY_MAX_EDIT = 3  # x_dedup_fuzzy_edit pair threshold (see docstring)


@register(
    "x_dedup_fuzzy_edit",
    oracle=f"""
    WITH names AS (
      SELECT p_name AS name,
             CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(MIN(p_partkey) AS BIGINT) AS keep_key,
             str_split(p_name, ' ')[1] AS blk
      FROM part GROUP BY p_name),
    pairs AS (
      SELECT a.name AS name_a, b.name AS name_b,
             CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
             a.n_parts AS n_a, b.n_parts AS n_b,
             a.keep_key AS keep_key
      FROM names a JOIN names b
        ON a.blk = b.blk AND a.name < b.name)
    SELECT name_a, name_b, dist, n_a, n_b, keep_key
    FROM pairs WHERE dist <= {FUZZY_MAX_EDIT}
    """,
)
def x_dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate pairs over part names with
    first-token BLOCKING: distinct names sharing a leading token are
    candidate pairs; a pair survives iff levenshtein ≤ FUZZY_MAX_EDIT (= 3: the fixture name domain is two short words, where the closest distinct variants — 'blue bolt' / 'blue rod' — sit at 3; on real catalog/URL data 1-2 is the usual knee).  The
    typo/variant rung of the dedup ladder — catches 'small ring' vs
    'small rings' where exact dedup sees two keys and
    shingle/minhash methods have nothing to band on (short strings
    carry one or two shingles).  Emits the pair, its distance, both
    duplicate-group sizes, and the canonical keeper (min key of the
    lexicographically smaller side).

    Cross-engine exactness: Spark's levenshtein() and DuckDB's are
    the same classic Wagner-Fischer distance (verified: both give
    ('small ring','small rings')→1), counts and keys are exact
    BIGINTs — no floats anywhere.  The oracle replays the IDENTICAL
    blocking, so the gate pins the op's full contract including its
    recall boundary: a pair whose FIRST token is edited lands in
    different blocks and is not emitted (the documented LSH-style
    recall trade — symmetric-deletion blocking would close it at 3×
    key fanout).

    100 TB posture: pair work is Σ_blocks |block|², bounded by the
    name-vocabulary's leading-token distribution, never the row
    count — the corpus-sized stage is the exact-name groupBy whose
    shuffle carries (name, count, min-key), and blocks of DISTINCT
    names are vocabulary-sized.  A Zipf-hot leading token is the
    x_containment_dedup lesson: cap or sub-band hot blocks (the
    auto-knee helper applies unchanged if the name domain were
    unbounded)."""
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.min("p_partkey").cast("long").alias("keep_key"),
        )
        .withColumn(
            "blk", F.split(F.col("name"), " ").getItem(0)
        )
        # the vocabulary-sized name relation feeds BOTH self-join
        # sides — localCheckpoint so the corpus-sized exact-name
        # groupBy runs once (the theil_sen bounded-relation rule).
        .localCheckpoint(eager=True)
    )
    a = names.select(
        F.col("name").alias("name_a"),
        F.col("n_parts").alias("n_a"),
        F.col("keep_key").alias("keep_key"),
        F.col("blk").alias("blk_a"),
    )
    b = names.select(
        F.col("name").alias("name_b"),
        F.col("n_parts").alias("n_b"),
        F.col("blk").alias("blk_b"),
    )
    return (
        a.join(
            b,
            (F.col("name_a") < F.col("name_b"))
            & (F.col("blk_a") == F.col("blk_b")),
        )
        .drop("blk_a", "blk_b")
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b")
            .cast("long")
            .alias("dist"),
            "n_a",
            "n_b",
            "keep_key",
        )
        .filter(F.col("dist") <= FUZZY_MAX_EDIT)
    )
