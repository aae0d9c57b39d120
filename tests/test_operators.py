"""LLM-pipeline operators: dedup, similarity, text, multimodal, incremental."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from iceberg_rust_spark.functions import text as TX
from iceberg_rust_spark.operators import dedup as DD
from iceberg_rust_spark.operators import multimodal as MM
from iceberg_rust_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river"),
        (3, "a completely different document about spark and iceberg tables"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),
        (5, "der hund läuft und das ist nicht ein problem für die katze"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r["dup_count"] for r in DD.exact_dedup(docs).collect()}
    assert out[1] == 2          # docs 1 and 4 identical -> min id kept
    assert 4 not in out
    assert out[2] == 1 and out[3] == 1


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert (1, 3) not in pairs


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             DD.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 4) in pairs
    assert (1, 2) in pairs
    assert (1, 3) not in pairs
    assert (3, 5) not in pairs


def test_minhash_deterministic(spark, docs):
    a = DD.minhash_signatures(docs).orderBy("doc_id").collect()
    b = DD.minhash_signatures(docs).orderBy("doc_id").collect()
    assert a == b


def test_minhash_kernel_matches_scalar_definition(spark):
    """The Arrow kernels' output equals a scalar recompute of the
    documented family: gram hash = degree-n polynomial combine of
    two-seed murmur3 token hashes over the doc's distinct word-3-grams,
    then h_i(g) = (a_i * (g mod p) + b_i) mod p minima — on unicode text,
    single-gram docs, and repeated-shingle docs. Empty/whitespace docs
    emit NO row (the explode-era contract the LSH consumer relies on)."""
    import re

    from iceberg_rust_spark.functions.murmur3 import murmur3_32
    rows = [(1, "caffé wörld データ mixed unicode grams here"),
            (2, "one two three"),                 # exactly one 3-gram
            (3, "dup dup dup dup dup"),           # one distinct gram
            (4, ""), (5, "   ")]                  # no grams -> no row
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: [r[f"mh_{i}"] for i in range(DD._N_HASHES)]
           for r in DD.minhash_signatures(docs).collect()}
    assert set(got) == {1, 2, 3}

    B = 0x9E3779B97F4A7C15
    M64 = (1 << 64) - 1

    def token_hash(w):
        h1 = murmur3_32(w.encode("utf-8")) & 0xFFFFFFFF
        h2 = murmur3_32(w.encode("utf-8"), seed=0x85EBCA6B) & 0xFFFFFFFF
        return (h1 << 32) | h2

    for doc_id, text in rows[:3]:
        tk = re.split(r"\W+", text.strip().lower(), flags=re.ASCII)
        ghs = set()
        for i in range(max(0, len(tk) - 2)):
            acc = token_hash(tk[i])
            for j in (1, 2):
                acc = (acc * B + token_hash(tk[i + j])) & M64
            ghs.add(acc % DD._P)
        for i in range(DD._N_HASHES):
            a, b = DD._perm_params(i)
            want = min((h * a + b) % DD._P for h in ghs)
            assert got[doc_id][i] == want, (doc_id, i)


def test_fused_gram_minhash_matches_split_kernels(spark, docs):
    """The fused grams+minhash kernel must emit exactly what the two split
    kernels (_gram_hash64_pandas, _minhash64_pandas) produce — same gram
    arrays, same 64 permutation minima, same null-for-empty contract."""
    from pyspark.sql import functions as F
    both = docs.select(
        "doc_id", DD._gram_minhash_pandas(3)(F.col("text")).alias("_gm"))
    fused = {r["doc_id"]: (list(r["_gm"]["grams"]),
                           None if r["_gm"]["mh"] is None else list(r["_gm"]["mh"]))
             for r in both.collect()}
    grams = {r["doc_id"]: list(r["g"]) for r in docs.select(
        "doc_id", DD._gram_hash64_pandas(3)(F.col("text")).alias("g")).collect()}
    sigs = {r["doc_id"]: list(r["m"]) for r in docs.select(
        "doc_id", DD._gram_hash64_pandas(3)(F.col("text")).alias("g"))
        .where(F.size("g") > 0)
        .select("doc_id", DD._minhash64_pandas()(F.col("g")).alias("m")).collect()}
    assert set(fused) == set(grams)
    for did, (g, m) in fused.items():
        assert g == grams[did], did
        assert m == sigs.get(did), did


def test_simhash_similar_docs_close(spark, docs):
    sig = {r["doc_id"]: r["simhash"] for r in DD.simhash_signatures(docs).collect()}
    assert sig[1] == sig[4]
    ham_12 = bin((sig[1] ^ sig[2]) & (2**64 - 1)).count("1")
    ham_13 = bin((sig[1] ^ sig[3]) & (2**64 - 1)).count("1")
    assert ham_12 < ham_13


def test_text_functions(spark, docs):
    t = F.col("text")
    row = (docs.where(F.col("doc_id") == 1)
           .select(TX.token_count(t).alias("n"),
                   TX.lang_guess(t).alias("lang"),
                   TX.fingerprint(t).alias("fp")).collect()[0])
    assert row["n"] == 13
    assert row["lang"] == "en"
    assert len(row["fp"]) == 32
    de = docs.where(F.col("doc_id") == 5).select(TX.lang_guess(t)).collect()[0][0]
    assert de == "de"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([(1, "Hello,  World!"), (2, "hello world")],
                               "doc_id long, text string")
    fps = [r[0] for r in df.select(TX.fingerprint(F.col("text"))).collect()]
    assert fps[0] == fps[1]


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(5)
    base = rng.standard_normal((30, 8)).astype("float32")
    base[7] = np.array([1, 0, 0, 0, 0, 0, 0, 0], dtype="float32")
    base[11] = np.array([0.9, 0.1, 0, 0, 0, 0, 0, 0], dtype="float32")  # near 7
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_matches_numpy(spark, emb):
    got = SIM.brute_force_topk(spark, emb, query_vec_id=7, k=5).collect()
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype="float64") for r in rows}
    q = vecs[7]
    sims = sorted(((round(float(np.dot(v, q) / (np.linalg.norm(v) * np.linalg.norm(q))), 6), i)
                   for i, v in vecs.items() if i != 7), key=lambda x: (-x[0], x[1]))
    exp = [(i, s) for s, i in sims[:5]]
    assert [(r["vec_id"], r["sim"]) for r in got] == exp
    assert got[0]["vec_id"] == 11  # planted near-neighbor


def test_lsh_topk_contains_planted_neighbor(spark, emb):
    got = [r["vec_id"] for r in SIM.lsh_topk(spark, emb, 7, k=5).collect()]
    assert 11 in got


def test_ivf_topk_contains_planted_neighbor(spark, emb):
    got = [r["vec_id"] for r in SIM.ivf_topk(spark, emb, 7, k=5,
                                             n_cells=4, n_probe=2).collect()]
    assert 11 in got


def test_embedding_cosine_pairs(spark, emb):
    pairs = {(r["id_a"], r["id_b"]): r["sim"]
             for r in DD.embedding_cosine_pairs(emb, threshold=0.9).collect()}
    assert (7, 11) in pairs and pairs[(7, 11)] > 0.99  # planted near-pair
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype="float64")
            for r in emb.collect()}
    for (a, b), sim in pairs.items():
        exp = float(np.dot(vecs[a], vecs[b]) /
                    (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])))
        assert abs(sim - exp) < 1e-5


def test_embedding_lsh_pairs_finds_planted(spark, emb):
    got = {(r["id_a"], r["id_b"]) for r in
           DD.embedding_lsh_pairs(emb, threshold=0.9).collect()}
    assert (7, 11) in got
    brute = {(r["id_a"], r["id_b"]) for r in
             DD.embedding_cosine_pairs(emb, threshold=0.9).collect()}
    assert got <= brute  # LSH never invents pairs (exact verification)


def test_bpe_token_count(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world's 42 test"), (2, "don't stop"), (3, "abc")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["n"] for r in
           df.select("doc_id", TX.bpe_token_count(F.col("text")).alias("n")).collect()}
    # Hello / , / world / 's / 42 / test
    assert out[1] == 6
    # don / 't / stop
    assert out[2] == 3
    assert out[3] == 1
    import duckdb
    sql = f"SELECT {TX.sql_bpe_token_count('t')} FROM (VALUES ('Hello, world''s 42 test'), ('don''t stop'), ('abc')) v(t)"
    assert [r[0] for r in duckdb.sql(sql).fetchall()] == [6, 3, 1]


def test_multimodal_plumbing(spark):
    media = MM.synthetic_media_df(spark, 16)
    wm = MM.attach_media_meta(media)
    rows = {r["media_id"]: r for r in wm.collect()}
    # PNG headers parsed for even ids
    assert rows[0]["meta"]["width"] == 1 and rows[0]["meta"]["n_bytes"] > 24
    feats = MM.extract_features(media).collect()
    assert all(len(r["features"]) == MM.FEATURE_DIM for r in feats)
    frames = MM.resample_frames(media).collect()
    assert len(frames) >= 16
    # deterministic across runs
    feats2 = MM.extract_features(media).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))


def test_multimodal_resize(spark):
    from iceberg_rust_spark.functions.media_codecs import decode_png
    media = MM.synthetic_media_df(spark, 16)
    out = MM.resize_images(media, 32, 32).collect()
    assert len(out) == 16
    assert all(r["width"] == 32 and r["height"] == 32 for r in out)
    for r in out:
        if r["media_id"] % 16 == 15:     # opaque blob: stub byte budget
            assert len(r["resized"]) == 32 * 32 // 8
        else:
            # every other class (PNG / baseline+progressive JPEG / GIF /
            # lossless WebP) decodes for REAL -> resized to target dims
            assert decode_png(bytes(r["resized"])).shape == (32, 32, 3)
    # deterministic: same payload -> same resized bytes
    out2 = MM.resize_images(media, 32, 32).collect()
    assert sorted(r["resized"] for r in out) == sorted(r["resized"] for r in out2)


def test_salted_join_matches_plain_join(spark):
    from iceberg_rust_spark.operators.skew import salted_count, salted_join
    # 90% of big rows share one hot key
    big = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise(
            F.concat(F.lit("k"), F.col("id") % 7)).alias("k"),
        F.col("id").alias("v"))
    small = spark.createDataFrame(
        [("hot", 1.0)] + [(f"k{i}", float(i)) for i in range(7)],
        "k string, w double")
    plain = big.join(small, "k").groupBy("k").agg(
        F.count("*").alias("n"), F.sum("w").alias("sw"))
    salted = salted_join(big, small, ["k"]).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("w").alias("sw"))
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))

    sc = salted_count(big, ["k"], value_col="v")
    pc = big.groupBy("k").agg(F.count("*").alias("n"),
                              F.sum("v").alias("sum_v"))
    assert sorted(map(tuple, pc.collect())) == sorted(map(tuple, sc.collect()))


def test_incremental_reader(spark, warehouse, tmp_path):
    from iceberg_rust_spark import Table
    from iceberg_rust_spark.sources.types import schema_from_spark
    from iceberg_rust_spark.streaming.incremental import IncrementalReader
    df1 = spark.createDataFrame([(1,), (2,)], "id long")
    t = Table.create(warehouse, "db.stream", schema_from_spark(df1.schema))
    t.append(spark, df1)
    t.append(spark, spark.createDataFrame([(3,)], "id long"))
    rd = IncrementalReader(t, str(tmp_path / "ckpt.json"))
    batches = [(sid, sorted(r["id"] for r in df.collect()))
               for sid, df in rd.micro_batches(spark)]
    assert [b[1] for b in batches] == [[1, 2], [3]]
    # resume: nothing new
    assert list(rd.micro_batches(spark)) == []
    t.append(spark, spark.createDataFrame([(4,)], "id long"))
    more = [(sid, [r["id"] for r in df.collect()])
            for sid, df in rd.micro_batches(spark)]
    assert [b[1] for b in more] == [[4]]


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    from iceberg_rust_spark.operators.bucketing import (
        bucketed_join, count_shuffles, write_bucketed)
    import pyspark.sql.functions as F

    orders = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("status"))
    items = spark.range(0, 6000).select(
        (F.col("id") % 2000).alias("k"), F.col("id").alias("item"))
    spark.sql("CREATE DATABASE IF NOT EXISTS bktdb")
    write_bucketed(orders, "bktdb.orders_b", ["k"], 8)
    write_bucketed(items, "bktdb.items_b", ["k"], 8)
    try:
        j = bucketed_join(spark, "bktdb.orders_b", "bktdb.items_b", ["k"],
                          force_sort_merge=True, expect_shuffle_free=True)
        assert count_shuffles(j) == 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert j.count() == 6000
        # same result as the plain (shuffling) join
        plain = orders.join(items, "k").count()
        assert plain == 6000
    finally:
        spark.sql("DROP TABLE IF EXISTS bktdb.orders_b")
        spark.sql("DROP TABLE IF EXISTS bktdb.items_b")


def test_deterministic_sample_and_quota(spark):
    from iceberg_rust_spark.operators.sampling import (
        deterministic_sample, quota_per_group)
    import pyspark.sql.functions as F

    df = spark.range(0, 4000).select(F.col("id"), (F.col("id") % 13).alias("g"))
    s1 = {r["id"] for r in deterministic_sample(df, "id", 0.3).collect()}
    # repartitioning must not change the selected set (df.sample would)
    s2 = {r["id"] for r in
          deterministic_sample(df.repartition(17), "id", 0.3).collect()}
    assert s1 == s2
    assert 0.25 < len(s1) / 4000 < 0.35
    assert deterministic_sample(df, "id", 1.0).count() == 4000
    assert deterministic_sample(df, "id", 0.0).count() == 0

    q = quota_per_group(df, ["g"], 10, order_col="id")
    per = {r["g"]: r["n"] for r in
           q.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert all(n == 10 for n in per.values())
    # keeps the FIRST `quota` by order_col
    kept0 = sorted(r["id"] for r in q.where(F.col("g") == 0).collect())
    assert kept0 == [i * 13 for i in range(10)]


def test_chunk_documents_semantics(spark):
    from iceberg_rust_spark.operators.chunking import chunk_documents
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))),   # 10 toks: 1 chunk @ w=16
         (2, " ".join(f"t{i}" for i in range(16))),   # exactly w: 1 chunk
         (3, " ".join(f"t{i}" for i in range(17))),   # w+1: 2 chunks
         (4, " ".join(f"t{i}" for i in range(40)))],  # stride 12: 3 chunks
        "doc_id long, text string")
    out = chunk_documents(docs, window=16, overlap=4)
    rows = {(r["doc_id"], r["chunk_no"]): r for r in out.collect()}
    counts = {}
    for (d, _), r in rows.items():
        counts[d] = counts.get(d, 0) + 1
    assert counts == {1: 1, 2: 1, 3: 2, 4: 3}
    # chunk 0 of doc 3 = tokens 0..15; chunk 1 starts at stride 12 => overlap 4
    c0 = rows[(3, 0)]["chunk_text"].split()
    c1 = rows[(3, 1)]["chunk_text"].split()
    assert c0 == [f"t{i}" for i in range(16)]
    assert c1 == [f"t{i}" for i in range(12, 17)]
    assert rows[(3, 1)]["n_tokens"] == 5
    assert c0[12:] == c1[:4]  # the overlap region repeats
    # invalid params rejected
    import pytest
    with pytest.raises(ValueError):
        chunk_documents(docs, window=8, overlap=8)


def test_connected_components_shapes(spark):
    from iceberg_rust_spark.operators.components import (connected_components,
                                                         dedup_clusters)
    # two clusters {1,2,3,4} (chain) and {10,11}, singleton edges absent
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    comp = {r["node"]: r["component"]
            for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    cl = dedup_clusters(edges).collect()
    sizes = {r["cluster_id"]: r["cluster_size"] for r in cl}
    assert sizes == {1: 4, 10: 2}
    # a long chain still converges (diameter-bound rounds, max_iter cap)
    chain = spark.createDataFrame([(i, i + 1) for i in range(20)],
                                  "id_a long, id_b long")
    comp2 = connected_components(chain).collect()
    assert {r["component"] for r in comp2} == {0}


def test_connected_components_diameter_beyond_max_iter(spark):
    """Pointer-jumping compression must converge a diameter-100 chain well
    inside max_iter=25 (O(log d) rounds). Regression: plain 1-hop
    propagation silently returned SPLIT components for any graph whose
    diameter exceeded max_iter."""
    from iceberg_rust_spark.operators.components import connected_components
    chain = spark.createDataFrame([(i, i + 1) for i in range(100)],
                                  "id_a long, id_b long")
    # cap=0: the DISTRIBUTED pointer-jumping loop is the code under test
    # (the default small-graph fast path would bypass it on a toy chain)
    comp = connected_components(chain, max_iter=25,
                                small_graph_cap=0).collect()
    assert len(comp) == 101
    assert {r["component"] for r in comp} == {0}


def test_connected_components_property_random_graphs(spark):
    """Property check vs an independent union-find: on random edge lists the
    distributed min-label propagation must produce exactly the union-find
    components with min-id representatives. (Spark jobs are slow per
    example, so a handful of seeded random graphs rather than hypothesis's
    example volume.)"""
    import random

    from iceberg_rust_spark.operators.components import connected_components

    def uf_components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    rng = random.Random(42)
    for trial in range(4):
        n_nodes = rng.choice([10, 40, 80])
        n_edges = rng.randint(5, 3 * n_nodes)
        edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes))
                 for _ in range(n_edges)]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        expected = uf_components(edges)
        df_e = spark.createDataFrame(edges, "id_a long, id_b long")
        # both paths must agree with the reference union-find: the
        # distributed propagation loop (cap=0) AND the driver fast path
        for cap in (0, 100_000):
            got = {r["node"]: r["component"]
                   for r in connected_components(
                       df_e, small_graph_cap=cap).collect()}
            assert got == expected, \
                f"trial {trial} cap={cap}: {got} != {expected}"


def test_token_budget_per_group(spark):
    from iceberg_rust_spark.operators.sampling import token_budget_per_group
    rows = [("a", 1, 40), ("a", 2, 40), ("a", 3, 40),   # budget 100: keep 1,2,3? 0<100,40<100,80<100 -> all; 4th at 120 out
            ("a", 4, 40), ("b", 1, 500), ("b", 2, 10)]
    df = spark.createDataFrame(rows, "src string, id long, tc long")
    kept = token_budget_per_group(df, ["src"], 100, "tc", "id").collect()
    got = {(r["src"], r["id"]) for r in kept}
    # 'a': preceding sums 0,40,80,120 -> ids 1..3 kept; 'b': the first doc
    # always survives even when it alone blows the budget, second is out
    assert got == {("a", 1), ("a", 2), ("a", 3), ("b", 1)}


def test_embedding_lsh_salted_split_keeps_all_pairs(spark):
    """A bucket no hyperplane can split (identical vectors) larger than
    bucket_cap is salt-split into grid cells; every pair must still be
    emitted exactly once and the quadratic work stays memory-bounded."""
    import numpy as _np
    rng = _np.random.RandomState(3)
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(50)] + \
           [(100 + i, [float(x) for x in rng.standard_normal(4)])
            for i in range(30)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = DD.embedding_lsh_pairs(e, threshold=0.999, n_planes=8,
                                 bucket_cap=12).collect()
    ident = {(r["id_a"], r["id_b"]) for r in got
             if r["id_a"] < 50 and r["id_b"] < 50}
    assert len(ident) == 50 * 49 // 2          # every identical pair found
    assert len({(r["id_a"], r["id_b"]) for r in got}) == len(got)  # no dups
    for r in got:
        assert r["id_a"] < r["id_b"]


def test_lsh_cell_pairs_stream_per_cell():
    """One large duplicate cluster beside many small cells of the same
    shuffle partition: the pairs come out per cell (each chunk no larger
    than the cluster's own pair count, far below the partition's), and
    they are exactly the brute-force set with each pair's stored vectors
    attached."""
    import pandas as pd
    rows, want = [], set()
    big = 300
    for i in range(big):                       # one bucket, one cell
        rows.append((i, [1.0, 2.0, 3.0], 0, 0))
    want |= {(i, j) for i in range(big) for j in range(i + 1, big)}
    for b in range(1, 21):                     # twenty 30-row cells
        ids = [10_000 * b + k for k in range(30)]
        rows += [(i, [float(b), 1.0, -1.0], 0, b) for i in ids]
        want |= {(i, j) for i in ids for j in ids if i < j}
    pdf = pd.DataFrame(
        [(i, np.array(v), t, bk, 0, 0, 0) for i, v, t, bk in rows],
        columns=["vec_id", "_v", "_t", "_bucket", "_salt", "_ci", "_cj"])
    chunks = list(DD._lsh_cell_pairs(pdf, "vec_id", 0.999))
    assert max(len(c) for c in chunks) <= big * (big - 1) // 2
    assert sum(len(c) for c in chunks) == len(want)
    assert len(chunks) >= 21
    got = pd.concat(chunks, ignore_index=True)
    assert set(zip(got["id_a"], got["id_b"])) == want
    assert (got["id_a"] < got["id_b"]).all()
    # each cell's vectors are identical, so both stored vectors agree
    assert all(list(va) == list(vb) for va, vb in zip(got["_va"], got["_vb"]))


def test_embedding_lsh_exactness_vs_brute(spark, emb):
    """Partition-local numpy candidates + builtin re-rank: emitted (pair,
    sim) values must match the brute-force operator bit-for-bit on pairs
    LSH recalls (and never include anything brute force excludes)."""
    got = {(r["id_a"], r["id_b"]): r["sim"] for r in
           DD.embedding_lsh_pairs(emb, threshold=0.9).collect()}
    brute = {(r["id_a"], r["id_b"]): r["sim"] for r in
             DD.embedding_cosine_pairs(emb, threshold=0.9).collect()}
    assert set(got) <= set(brute)
    for k, sim in got.items():
        assert sim == brute[k]


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """reliable=True swaps localCheckpoint for reliable checkpoints (files
    under checkpoint_dir) and produces identical components."""
    import os as _os

    from iceberg_rust_spark.operators.components import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    ckdir = str(tmp_path / "ck")
    comp = {r["node"]: r["component"]
            for r in connected_components(edges, reliable=True,
                                          checkpoint_dir=ckdir).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    assert any(_os.scandir(ckdir))  # checkpoint files actually written


def test_hash_split_deterministic_and_partition_stable(spark):
    from iceberg_rust_spark.operators.sampling import hash_split
    df = spark.range(0, 5000).select(F.col("id"))
    s1 = {r["id"]: r["split"] for r in hash_split(df, "id").collect()}
    # stable under repartitioning (no RNG, pure hash of the key)
    s2 = {r["id"]: r["split"] for r in
          hash_split(df.repartition(13), "id").collect()}
    assert s1 == s2
    from collections import Counter
    c = Counter(s1.values())
    assert c["train"] > 4700 and c["val"] > 10 and c["test"] > 10
    assert sum(c.values()) == 5000
    # custom fractions + bad fractions rejected
    s3 = hash_split(df, "id", [("a", 0.5), ("b", 0.5)])
    assert set(r["split"] for r in s3.collect()) == {"a", "b"}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        hash_split(df, "id", [("a", 0.5), ("b", 0.2)])


def test_contamination_flags(spark):
    """r5: docs sharing >= min_shared n-grams with a benchmark flag true;
    disjoint docs flag false with n_shared 0."""
    from iceberg_rust_spark.operators.dedup import contamination_flags

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated words appear here okay"),
         (3, "the quick brown fox sat still")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "benchmark says the quick brown fox jumps high")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_shared"], r["contaminated"])
           for r in contamination_flags(docs, bench, min_shared=2).collect()}
    # doc 1 shares 'the quick brown','quick brown fox','brown fox jumps'
    assert got[1][0] == 3 and got[1][1]
    assert got[2] == (0, False)
    # doc 3 shares 2 grams ('the quick brown', 'quick brown fox')
    assert got[3] == (2, True)


def test_remove_repeated_spans(spark):
    """r5: duplicate paragraphs collapse to the first occurrence in
    original order; n_removed counts dropped occurrences."""
    from iceberg_rust_spark.operators.chunking import remove_repeated_spans

    docs = spark.createDataFrame(
        [(1, "alpha\nbeta\nalpha\ngamma\nbeta"),
         (2, "only one paragraph"),
         (3, "x\nx\nx\nx")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["cleaned_text"], r["n_removed"])
           for r in remove_repeated_spans(docs).collect()}
    assert got[1] == ("alpha\nbeta\ngamma", 2)
    assert got[2] == ("only one paragraph", 0)
    assert got[3] == ("x", 3)


def test_scrub_pii_kernel(spark):
    """PII redaction hits each pattern class and leaves clean text alone;
    emails redact before the IP pass so dotted hosts never half-match."""
    from iceberg_rust_spark.functions import text as TX
    df = spark.createDataFrame([
        ("mail bob.smith+x@corp.example.org end",),
        ("call +1 415-555-0100 now",),
        ("host 192.168.0.1 and 8.8.8.8",),
        ("clean text stays",)], "s string")
    out = [r[0] for r in df.select(TX.scrub_pii(F.col("s"))).collect()]
    assert out == ["mail <EMAIL> end", "call <PHONE> now",
                   "host <IP> and <IP>", "clean text stays"]
    counts = df.agg(
        F.sum(TX.pii_count(F.col("s"), TX.PII_EMAIL)).alias("e"),
        F.sum(TX.pii_count(F.col("s"), TX.PII_IP)).alias("i")).collect()[0]
    assert (counts["e"], counts["i"]) == (1, 2)


def test_remove_frequent_lines(spark):
    """Corpus-level line dedup: lines in >= min_docs distinct docs drop
    everywhere; order is preserved; an all-boilerplate doc comes back
    empty rather than vanishing; per-doc drop counts are exact."""
    from iceberg_rust_spark.operators.chunking import remove_frequent_lines
    docs = spark.createDataFrame(
        [(1, "keep me\nad footer\nunique one"),
         (2, "ad footer\nanother keeper"),
         (3, "ad footer\nthird text"),
         (4, "ad footer")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["cleaned_text"], r["n_lines_kept"],
                         r["n_lines_dropped"])
           for r in remove_frequent_lines(docs, min_docs=3).collect()}
    assert got[1] == ("keep me\nunique one", 2, 1)
    assert got[2] == ("another keeper", 1, 1)
    assert got[3] == ("third text", 1, 1)
    assert got[4] == ("", 0, 1)


def test_pack_sequences(spark):
    """Greedy packing: per-group running token totals bucket docs into
    fixed-budget sequences; oversized docs own their sequence; offsets
    restart per bucket."""
    from iceberg_rust_spark.operators.sampling import pack_sequences
    docs = spark.createDataFrame(
        [(1, "en", 300), (2, "en", 300), (3, "en", 300), (4, "en", 1500),
         (5, "de", 100)],
        "doc_id long, lang string, n_tokens long")
    got = {r["doc_id"]: (r["seq_no"], r["seq_offset"])
           for r in pack_sequences(docs, 512,
                                   group_cols=["lang"]).collect()}
    assert got[1] == (0, 0)
    assert got[2] == (0, 300)    # 600 > 512 spills next doc, not this one
    assert got[3] == (1, 88)     # prev total 600 -> bucket 1, offset 88
    assert got[4] == (1, 388)    # giant doc starts in bucket 1
    assert got[5] == (0, 0)      # independent group


def test_stratified_mix(spark):
    """Mix rebalancing keeps floor(frac*total) per group (capped by group
    size), selection is md5-deterministic, non-target groups drop."""
    from iceberg_rust_spark.operators.sampling import stratified_mix
    docs = spark.createDataFrame(
        [(i, "en" if i < 60 else ("de" if i < 70 else "xx"))
         for i in range(80)], "doc_id long, lang string")
    out = stratified_mix(docs, "lang", {"en": 0.5, "de": 0.5}, 40)
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 20, "de": 10}  # de capped at its 10 rows
    # deterministic: same selection on re-run
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in stratified_mix(
        docs.repartition(7), "lang", {"en": 0.5, "de": 0.5}, 40).collect())
    assert ids1 == ids2


def test_dedup_paragraphs_global(spark):
    """Corpus-wide exact paragraph dedup: later copies of a >=min_chars
    span drop (first occurrence by (doc_id, pos) wins), short spans are
    exempt, all-duplicate docs come back empty."""
    from iceberg_rust_spark.operators.chunking import dedup_paragraphs_global

    shared = "this paragraph is shared across documents"
    docs = spark.createDataFrame(
        [(1, f"unique one\n{shared}\n--\nalpha paragraph body here"),
         (2, f"{shared}\nunique two longer paragraph"),
         (3, shared),                       # all-duplicate doc -> empty
         (4, f"--\n{shared}\nalpha paragraph body here")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup_paragraphs_global(docs, min_chars=16).collect()}
    # doc 1 owns the first occurrence of both long spans ("unique one" is
    # short -> exempt despite being 10 chars)
    assert out[1]["cleaned_text"] == \
        f"unique one\n{shared}\n--\nalpha paragraph body here"
    assert out[1]["n_paras_dropped"] == 0
    # doc 2 loses the shared span, keeps its unique paragraph
    assert out[2]["cleaned_text"] == "unique two longer paragraph"
    assert (out[2]["n_paras_kept"], out[2]["n_paras_dropped"]) == (1, 1)
    # doc 3 was pure duplicate -> empty but present
    assert out[3]["cleaned_text"] == "" and out[3]["n_paras_dropped"] == 1
    # doc 4: short "--" kept, both long spans already owned by doc 1
    assert out[4]["cleaned_text"] == "--"
    assert (out[4]["n_paras_kept"], out[4]["n_paras_dropped"]) == (1, 2)


def test_repeated_window_stats(spark):
    """Corpus-global exact-substring windows: a 5-token phrase planted in
    two docs marks exactly its windows as duplicated; unique text stays
    clean; docs shorter than k produce no row."""
    from iceberg_rust_spark.operators.chunking import repeated_window_stats
    shared = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        [(1, f"alpha beta {shared} gamma delta"),
         (2, f"{shared} epsilon zeta eta theta iota"),
         (3, "completely unrelated words here padding more stuff"),
         (4, "tiny doc")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
           for r in repeated_window_stats(docs, k=5).collect()}
    assert 4 not in out                       # 2 tokens < k: no windows
    # doc 1: 9 tokens -> 5 windows, exactly one equals the shared phrase
    assert out[1] == (5, 1)
    # doc 2: 10 tokens -> 6 windows, the first is the shared phrase
    assert out[2] == (6, 1)
    assert out[3] == (3, 0)   # 7 tokens -> 3 windows
    # min_repeats above the plant count: nothing flagged
    out3 = {r["doc_id"]: r["n_dup_windows"]
            for r in repeated_window_stats(docs, k=5,
                                           min_repeats=3).collect()}
    assert set(out3.values()) == {0}
    # null text drops like a short doc (the kernel must not choke on None)
    docs_n = spark.createDataFrame(
        [(1, "a b c d e f"), (2, None)], "doc_id long, text string")
    out_n = {r["doc_id"] for r in
             repeated_window_stats(docs_n, k=5).collect()}
    assert out_n == {1}


def test_kmeans_parallel_init_recall_and_determinism(spark, emb):
    """k-means|| centroids (distributed init, no driver-sample ceiling):
    the planted near-neighbor survives a genuinely PRUNED probe, and the
    centroid set is identical across partition layouts (hash-derived
    sampling, not RNG)."""
    import numpy as np

    from iceberg_rust_spark.operators.similarity import (
        ivf_topk, kmeans_parallel_centroids)
    got = [r["vec_id"] for r in
           ivf_topk(spark, emb, 7, k=5, n_cells=8, n_probe=3,
                    init="kmeans||").collect()]
    assert 11 in got             # the planted near-neighbor of vec 7
    c1 = kmeans_parallel_centroids(emb, 8)
    c2 = kmeans_parallel_centroids(emb.repartition(13), 8)
    assert c1.shape[0] <= 8 and c1.shape == c2.shape
    assert np.allclose(np.sort(c1, axis=0), np.sort(c2, axis=0))


def test_connected_components_null_endpoints(spark):
    """ADVICE r9 regression: non-numeric ids null out under the cast to
    long; an edge with a None endpoint must be dropped (a null is not a
    node), not crash the driver union-find fast path — and both the fast
    path and the distributed loop must agree."""
    from iceberg_rust_spark.operators.components import connected_components
    edges = spark.createDataFrame(
        [("1", "2"), ("2", None), (None, "7"), ("10", "11"),
         (None, None)], "id_a string, id_b string")
    # null endpoints carry no adjacency, but the VALID side of a
    # half-null edge is still a referenced node -> singleton (7);
    # node 2's half-null edge adds nothing (already in component 1)
    want = {1: 1, 2: 1, 7: 7, 10: 10, 11: 10}
    fast = {r["node"]: r["component"]
            for r in connected_components(edges).collect()}
    assert fast == want
    dist = {r["node"]: r["component"]
            for r in connected_components(
                edges, small_graph_cap=0).collect()}
    assert dist == want


def test_embedding_lsh_null_vectors_stay_on_lsh_path(spark):
    """ADVICE r9 regression: a null vector in the input (even as the
    first-encountered row) must neither crash the bucket kernel nor
    silently demote the call to the O(n^2) exact-cosine path — null
    vectors are filtered, valid pairs still come out."""
    rows = [(0, None), (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]), (3, None),
            (4, [0.0, 1.0, 0.0, 0.0])]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # coalesce(1) pins row 0 (null vector) as the aggregate's first row
    got = {(r["id_a"], r["id_b"])
           for r in DD.embedding_lsh_pairs(
               e.coalesce(1), threshold=0.99).collect()}
    assert got == {(1, 2)}
    # all-null input: falls back cleanly to the exact path, zero pairs
    allnull = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<double>")
    assert DD.embedding_lsh_pairs(allnull, threshold=0.9).count() == 0
