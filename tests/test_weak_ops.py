"""Self-validation for WEAK-checked operators: the driver only counts their
rows, so these tests pin the semantics the oracle can't."""

import os

import pytest

from pyspark.sql import functions as F

from kafka_connect_sse_spark.io import load_table
from kafka_connect_sse_spark.registry import queries

SF = "/root/testdata/sf0.001"


def test_lsh_topk_scores_match_exact_brute_force(spark):
    """Every (query, neighbor) the LSH path returns must carry exactly the
    cosine the brute-force path computes — LSH may miss neighbors (recall),
    never mis-score them.  The brute-force op's numpy scan must match the
    JVM sequential fold (`dot`) bit for bit."""
    qs = queries()
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in qs["x_sim_topk_cosine"](spark, SF).collect()
    }
    # brute-force keeps only top-5; rebuild full scores for checking
    from kafka_connect_sse_spark.operators.similarity import (
        _as_double,
        dot,
        N_QUERIES,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), _as_double(F.col("embedding")).alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("nid"), _as_double(F.col("embedding")).alias("cv")
    )
    full = {
        (r.qid, r.nid): r.cos
        for r in q.join(c, F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (F.sqrt(dot(F.col("qv"), F.col("qv")))
                   * F.sqrt(dot(F.col("cv"), F.col("cv")))),
                6,
            ).alias("cos"),
        )
        .collect()
    }
    assert all(full[k] == v for k, v in exact.items())
    lsh = qs["x_sim_topk_lsh"](spark, SF).collect()
    assert len(lsh) > 0
    for r in lsh:
        assert full[(r.query_id, r.neighbor_id)] == pytest.approx(r.cos_sim, abs=1e-9)
    # recall sanity: at least one LSH hit is also an exact top-5 hit
    assert any((r.query_id, r.neighbor_id) in exact for r in lsh)


def test_simhash_identical_docs_share_fingerprint(spark):
    """Cloned documents must land in the same simhash bucket."""
    d = load_table(spark, SF, "documents").limit(30).select("doc_id", "text")
    clones = d.withColumn("doc_id", F.col("doc_id") + 10_000)
    both = d.union(clones)
    both.createOrReplaceTempView("simhash_input")

    # rebuild the fingerprint expression over the combined set via the
    # registered op's module internals
    from kafka_connect_sse_spark.operators.dedup import _simhash_bit

    toks = F.array_distinct(F.split(F.col("text"), " "))
    bits = [_simhash_bit(toks, i) for i in range(32)]
    fp = bits[0]
    for b in bits[1:]:
        fp = fp + b
    rows = both.select("doc_id", fp.alias("s")).collect()
    by_id = {r.doc_id: r.s for r in rows}
    for i in range(30):
        if i in by_id:
            assert by_id[i] == by_id[i + 10_000]
    # anti-degeneracy: distinct docs must spread over many fingerprints
    # (the round-1 arity-2-lambda bug collapsed the corpus into 2 buckets)
    assert len(set(by_id.values())) > 10


def test_minhash_threshold_pairs_are_actually_similar(spark):
    """Every pair surviving the verify step has true shingle Jaccard >= 0.5
    (recomputed independently here)."""
    qs = queries()
    pairs = qs["x_dedup_near_minhash"](spark, SF).collect()
    from kafka_connect_sse_spark.operators.dedup import shingles

    d = load_table(spark, SF, "documents")
    sh = {
        r.doc_id: set(r.sh)
        for r in d.select(
            "doc_id", F.array_distinct(shingles(F.col("text"))).alias("sh")
        ).collect()
    }
    for p in pairs:
        a, b = sh[p.doc_a], sh[p.doc_b]
        j = len(a & b) / len(a | b)
        assert j >= 0.5
        assert j == pytest.approx(p.jaccard, abs=1e-6)


def test_approx_distinct_within_error_bound(spark):
    """The op now emits the error-bound check itself as a boolean (so the
    driver's oracle can assert it EXACTLY); the test pins it true."""
    qs = queries()
    rows = qs["q_agg_approx_distinct"](spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.approx_within_5pct, r


def test_multiprobe_recall_dominates_single_probe(spark):
    """Probing Hamming-1 neighbor buckets must recover at least as many of
    the exact top-5 hits as own-bucket probing — the whole point of the
    recall/cost dial."""
    qs = queries()
    exact = {
        (r.query_id, r.neighbor_id)
        for r in qs["x_sim_topk_cosine"](spark, SF).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in qs["x_sim_topk_lsh"](spark, SF).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in qs["x_sim_topk_lsh_multiprobe"](spark, SF).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)


def _duck(sf_dir, table):
    import duckdb

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):  # a Spark-written table is a directory
        path = os.path.join(path, "*.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    return con


def _assert_matches_oracle(spark, name, sf_dir, table):
    from tools.check_correctness import canon

    from kafka_connect_sse_spark.registry import oracle_sql

    spdf = queries()[name](spark, sf_dir).toPandas()
    opdf = _duck(sf_dir, table).execute(oracle_sql()[name]).df()
    scols, srows, shash = canon(spdf)
    ocols, orows, ohash = canon(opdf)
    assert scols == ocols, (scols, ocols)
    assert shash == ohash, (srows[:4], orows[:4])
    return spdf


def test_containment_hot_postings_cap_bounds_lists_keeps_recall(
    spark, tmp_path
):
    """The auto-sized hot-postings cap on a corpus where it binds: 80
    docs share a boilerplate header (shingle df 81 > CONTAIN_DF_FLOOR)
    while the sampled df profile is all df-2 passages (p99 2), so the
    cap is the floor and every boilerplate posting list is dropped.
    Spark must equal the oracle SQL's mirrored rule, the boilerplate
    pairs (containment 10/12 uncapped) must be gone, and the planted
    contained pair — carried by discriminative shingles — must
    survive with its values untouched."""
    import hashlib
    from collections import Counter

    from kafka_connect_sse_spark.operators.dedup import (
        CONTAIN_DF_FLOOR,
        CONTAIN_DF_HEADROOM,
        CONTAIN_MIN_SHINGLES,
        CONTAIN_PROFILE_PREFIX,
        CONTAIN_THR,
    )

    boiler = [f"boiler{i}" for i in range(12)]
    core = [f"core{i}" for i in range(40)]
    texts = {i: boiler + [f"u{i}_0", f"u{i}_1"] for i in range(80)}
    for k in range(150):  # pairs sharing a 20-token passage (df 2)
        passage = [f"p{k}_{j}" for j in range(20)]
        texts[200 + 2 * k] = passage + [f"a{k}_{j}" for j in range(20)]
        texts[201 + 2 * k] = [f"b{k}_{j}" for j in range(20)] + passage
    # planted contained pair: a boilerplate-free inner doc quoted whole
    # inside a boilerplate-headed outer doc
    texts[1000] = core
    texts[1001] = (
        boiler + [f"pre{j}" for j in range(20)] + core
        + [f"post{j}" for j in range(20)]
    )

    # the knee rule in plain Python: it must bind on this corpus
    sh = {d: {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}
          for d, t in texts.items()}
    df = Counter(g for s in sh.values() for g in s)
    prof = sorted(
        v for g, v in df.items()
        if v >= 2
        and hashlib.md5(g.encode()).hexdigest().startswith(
            CONTAIN_PROFILE_PREFIX
        )
    )
    p99 = prof[(99 * len(prof) + 99) // 100 - 1]
    cap = max(CONTAIN_DF_FLOOR, CONTAIN_DF_HEADROOM * p99)
    assert cap == CONTAIN_DF_FLOOR and max(df.values()) > cap

    # uncapped, any two boilerplate docs would be a contained pair
    assert len(sh[0] & sh[1]) / len(sh[0]) >= CONTAIN_THR
    assert len(sh[0]) >= CONTAIN_MIN_SHINGLES

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(d, "en", "synth", " ".join(t)) for d, t in texts.items()],
        "doc_id long, lang string, source string, text string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    got = _assert_matches_oracle(
        spark, "x_containment_dedup", sf_dir, "documents"
    )
    rows = {(r.inner_id, r.outer_id): r for r in got.itertuples()}
    assert set(rows) == {(1000, 1001)}
    assert rows[(1000, 1001)].containment == 1.0
    assert rows[(1000, 1001)].n_common == len(sh[1000])


def test_ann_stored_index_matches_oracle_and_is_int8(spark):
    """The materialized ANN index (round 7) changes WHERE the int8
    codes come from, never WHAT they are: the stored parquet carries
    array<tinyint> codes (the real 4x storage compression), and the
    pipeline reading it returns exactly the rows of the op's DuckDB
    oracle, which quantizes inline."""
    from kafka_connect_sse_spark.operators.similarity import ann_index_path

    idx = spark.read.parquet(ann_index_path(spark, SF))
    assert dict(idx.dtypes)["q"] == "array<tinyint>"
    assert idx.count() == spark.read.parquet(SF + "/embeddings.parquet").count()
    got = _assert_matches_oracle(spark, "x_ann_pipeline", SF, "embeddings")
    assert len(got) > 0


def test_ann_index_cache_misses_on_regenerated_fixture(spark, tmp_path):
    """The build-once index cache is keyed by a freshness fingerprint of
    the source table (mtime+size), not just the corpus path: a fixture
    regenerated in the SAME process must produce a NEW index path, never
    silently serve the stale one (ADVICE r7 item 3)."""
    import os
    import shutil

    from kafka_connect_sse_spark.operators.similarity import ann_index_path

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    src = os.path.join(SF, "embeddings.parquet")
    dst = os.path.join(sf_dir, "embeddings.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copy2)(src, dst)

    first = ann_index_path(spark, sf_dir)
    assert first == ann_index_path(spark, sf_dir)  # warm hit, same key

    # "regenerate" the fixture: same bytes, new mtime
    targets = (
        [os.path.join(r, f) for r, _d, fs in os.walk(dst) for f in fs]
        if os.path.isdir(dst)
        else [dst]
    )
    for t in targets:
        st = os.stat(t)
        os.utime(t, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))

    second = ann_index_path(spark, sf_dir)
    assert second != first
