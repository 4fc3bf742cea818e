"""Training-data pipeline operator tests over the driver's documents /
embeddings tables plus synthetic near-dup fixtures."""

import warnings

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sparkval.pipeline import dedup, multimodal, similarity, text
from tests.conftest import load


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return load(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def dup_docs(spark):
    """documents plus injected exact + near duplicates."""
    base = [
        (i, f"doc number {i} with unique words alpha{i} beta{i} gamma{i} " * 5, "en")
        for i in range(40)
    ]
    # exact dups of 0 and 1; near dup of 2 (one word changed)
    extra = [
        (100, base[0][1], "en"),
        (101, base[1][1], "en"),
        (102, base[2][1].replace("alpha2", "alphaX", 1), "en"),
    ]
    return spark.createDataFrame(base + extra, ["doc_id", "text", "lang"])


def test_token_count_matches_python(spark, docs):
    out = text.with_token_count(docs).select("doc_id", "text", "n_tokens").toPandas()
    for _, r in out.head(50).iterrows():
        assert r["n_tokens"] == len(r["text"].split()), r["text"][:40]


def test_quality_score_bounds(spark, docs):
    out = text.with_quality_score(docs).select("quality_score").toPandas()
    assert out["quality_score"].between(0, 1).all()


def test_lang_id_beats_chance(spark, docs):
    """Synthetic doc text is English-like filler; accuracy on 'en'
    labeled rows should be high, and predictions must be deterministic."""
    out = text.with_lang_id(docs).select("lang", "lang_pred").toPandas()
    en = out[out["lang"] == "en"]
    # the generator's text is English-ish regardless of label; just
    # require structural sanity: every row got a prediction
    assert set(out["lang_pred"]) <= {"en", "es", "de", "fr", "zh", "unknown"}
    assert (en["lang_pred"] == "en").mean() > 0.5


def test_fingerprint_reflow_invariance(spark):
    df = spark.createDataFrame(
        [(1, "Hello   world\nfoo"), (2, "hello world foo"), (3, "different doc")],
        ["doc_id", "text"],
    )
    out = text.with_fingerprint(df).toPandas().set_index("doc_id")
    assert out.loc[1, "fp_normalized"] == out.loc[2, "fp_normalized"]
    assert out.loc[1, "fp_exact"] != out.loc[2, "fp_exact"]
    assert out.loc[3, "fp_normalized"] != out.loc[1, "fp_normalized"]


def test_exact_duplicates(spark, dup_docs):
    out = dedup.exact_duplicates(dup_docs).toPandas()
    got = {tuple(ids) for ids in out["doc_ids"]}
    assert got == {(0, 100), (1, 101)}


def test_dedupe_keep_canonical(spark, dup_docs):
    """Retention step: lowest id per exact-content group survives,
    uniques (including near-dups with different bytes) pass through."""
    kept = set(
        r["doc_id"] for r in dedup.dedupe_keep_canonical(dup_docs).select("doc_id").collect()
    )
    assert kept == set(range(40)) | {102}  # 100/101 are exact copies of 0/1


def test_deterministic_sampling_properties(spark, docs):
    """Hash-keyed sampling: invariant under repartitioning, nested
    across rates, stratified thresholds honored, rate within binomial
    tolerance."""
    from sparkval.pipeline import sampling

    def sample(df, permille):
        return {
            r["doc_id"]
            for r in sampling.stratified_sample(df, "lang", {}, default_permille=permille)
            .collect()
        }

    s20 = sample(docs, 200)
    # partitioning-invariant (df.sample is not)
    assert s20 == sample(docs.repartition(13), 200)
    s50 = sample(docs, 500)
    assert s20 <= s50  # nested rates
    n = docs.count()
    assert abs(len(s50) / n - 0.5) < 0.1
    strat = sampling.stratified_sample(docs, "lang", {"en": 1000}, default_permille=0)
    got = strat.groupBy("lang").count().collect()
    assert {r["lang"] for r in got} == {"en"}
    n_en = docs.filter(F.col("lang") == "en").count()
    assert got[0]["count"] == n_en  # permille=1000 keeps every row


def test_minhash_finds_near_dups(spark, dup_docs):
    out = dedup.near_duplicates_minhash(dup_docs, threshold=0.6).toPandas()
    pairs = set(zip(out["a"], out["b"]))
    assert (0, 100) in pairs      # exact dup -> jaccard ~1
    assert (1, 101) in pairs
    assert (2, 102) in pairs      # near dup
    # unrelated docs must NOT pair
    assert not any(a < 40 and b < 40 for a, b in pairs)


def test_minhash_est_close_to_exact_jaccard(spark, dup_docs):
    # threshold 0: every same-bucket candidate pair with its estimate
    cands = dedup.near_duplicates_minhash(dup_docs, threshold=0.0)
    est = cands.toPandas().set_index(["a", "b"])
    exact = dedup.ngram_jaccard_exact(dup_docs, cands, n=1).toPandas().set_index(["a", "b"])
    joined = est.join(exact, how="inner")
    # exact pair: both ~1.0
    assert joined.loc[(0, 100), "jaccard_est"] == 1.0
    assert joined.loc[(0, 100), "jaccard"] == 1.0


def test_simhash_near_dups(spark, dup_docs):
    out = dedup.near_duplicates_simhash(dup_docs, max_hamming=3).toPandas()
    pairs = set(zip(out["a"], out["b"]))
    assert (0, 100) in pairs and (1, 101) in pairs
    ham = out.set_index(["a", "b"])["hamming"]
    assert ham.loc[(0, 100)] == 0


def test_brute_force_topk_matches_numpy(spark, embs):
    pdf = embs.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    queries = [(int(pdf["vec_id"][i]), mat[i].tolist()) for i in (0, 7)]
    out = similarity.brute_force_topk(embs, queries, k=5).toPandas()
    for qid, qvec in queries:
        got = out[out["query_id"] == qid].sort_values("rank")["vec_id"].tolist()
        q = np.array(qvec); q /= np.linalg.norm(q)
        sims = matn @ q
        order = np.lexsort((pdf["vec_id"].to_numpy(), -sims))
        want = pdf["vec_id"].to_numpy()[order][:5].tolist()
        assert got == want, (qid, got, want)
        # self is its own nearest neighbor
        assert got[0] == qid


def test_cosine_near_duplicates(spark, embs):
    pdf = embs.toPandas()
    # inject a near-identical pair
    v = np.array(pdf["embedding"][3], dtype=np.float64)
    near = (v + 0.001).astype(np.float32).tolist()
    aug = spark.createDataFrame(
        pd.concat([pdf, pd.DataFrame([{"vec_id": 9999, "embedding": near, "label": -1}])]),
    )
    out = similarity.near_duplicates_cosine(aug, threshold=0.999).toPandas()
    pairs = set(zip(out["a"], out["b"]))
    assert (3, 9999) in pairs


def test_cosine_lsh_recall_non_collinear(spark):
    """OR-amplified LSH must recover >=95% of true cosine-0.92 pairs
    whose members are NOT collinear — the case a single 6..8-plane
    table silently drops ~60% of (p_single = (1-θ/π)^P ≈ 0.33)."""
    rng = np.random.default_rng(7)
    base = rng.normal(size=(150, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    noise = rng.normal(size=base.shape)
    noise -= (noise * base).sum(axis=1, keepdims=True) * base
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    theta = float(np.arccos(0.92))
    pert = np.cos(theta) * base + np.sin(theta) * noise  # exact cosine 0.92
    rows = [(i, base[i].astype(np.float32).tolist()) for i in range(len(base))] + [
        (i + 100000, pert[i].astype(np.float32).tolist()) for i in range(len(base))
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    out = similarity.near_duplicates_cosine(df, threshold=0.9).toPandas()
    pairs = set(zip(out["a"], out["b"]))
    found = sum((i, i + 100000) in pairs for i in range(len(base)))
    assert found / len(base) >= 0.95, found


def test_multimodal_features_deterministic(spark):
    media = multimodal.make_fake_media(spark, 30)
    out1 = multimodal.extract_features(media).toPandas().set_index("media_id").sort_index()
    out2 = multimodal.extract_features(media.repartition(5)).toPandas().set_index("media_id").sort_index()
    assert (out1["payload_sha256"] == out2["payload_sha256"]).all()
    for m in out1.index:
        assert np.allclose(out1.loc[m, "features"], out2.loc[m, "features"])
        assert len(out1.loc[m, "features"]) == 32


def test_multimodal_decode_stub_raises_without_fake(spark):
    # compressed/unknown magic still has no decoder in this container
    with pytest.raises(NotImplementedError):
        multimodal.decode_stub(b"xx", "image", deterministic_fake=False)


def test_decode_stub_fake_flag_is_a_contract():
    """deterministic_fake=True must return the seeded hash vector even
    when the payload is genuinely decodable: flipping behavior on
    payload magic would silently change fixture features."""
    import hashlib

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    payload = multimodal.encode_bmp(px)
    fake = multimodal.decode_stub(payload, "image", deterministic_fake=True)
    real = multimodal.decode_stub(payload, "image", deterministic_fake=False)
    # real path decodes dims; fake path is the digest-derived vector
    assert (real[0], real[1]) == (4, 4)
    digest = hashlib.sha256(payload).digest()
    want0 = np.frombuffer(digest[:4], dtype=np.uint32)[0] / np.iinfo(np.uint32).max
    assert fake[0] == np.float32(want0)
    assert not np.array_equal(fake, real)


def test_image_decoders_roundtrip_bit_equal():
    """encode->decode round-trips for all four container formats,
    bit-equal to each other and to v/255 (farbfeld's 16-bit
    v*257/65535 is the same IEEE quotient as v/255)."""
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (13, 21, 3)).astype(np.uint8)
    want = px.astype(np.float64) / 255.0
    for enc in (multimodal.encode_ppm, multimodal.encode_bmp,
                multimodal.encode_farbfeld, multimodal.encode_png):
        got = multimodal.decode_image(enc(px))
        assert got.shape == (13, 21, 3), enc.__name__
        assert np.array_equal(got, want), enc.__name__
    with pytest.raises(ValueError, match="magic"):
        multimodal.decode_image(b"\xff\xd8\xff\xe0 jpeg has no decoder here")


def test_png_filters_rgba_and_rejections():
    """Every PNG filter type (and a mixed-filter image) unfilters back
    to the source pixels; RGBA (color type 6) decodes with alpha
    dropped; 16-bit and interlaced images are rejected loudly."""
    import zlib

    from sparkval.pipeline.multimodal import _PNG_MAGIC, _png_chunk

    rng = np.random.default_rng(11)
    h, w = 9, 14
    px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    want = px.astype(np.float64) / 255.0
    for filters in ([0] * h, [1] * h, [2] * h, [3] * h, [4] * h,
                    [y % 5 for y in range(h)]):
        got = multimodal.decode_image(multimodal.encode_png(px, filters))
        assert np.array_equal(got, want), filters

    def craft(color_type, depth, interlace, nch):
        data = rng.integers(0, 256, (h, w, nch)).astype(np.uint8)
        raw = b"".join(b"\x00" + data[y].tobytes() for y in range(h))
        ihdr = (np.array([w, h], ">u4").tobytes()
                + bytes([depth, color_type, 0, 0, interlace]))
        payload = (_PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
                   + _png_chunk(b"IDAT", zlib.compress(raw))
                   + _png_chunk(b"IEND", b""))
        return data, payload

    rgba, payload = craft(6, 8, 0, 4)
    got = multimodal.decode_image(payload)
    assert np.array_equal(got, rgba[:, :, :3].astype(np.float64) / 255.0)
    for color_type, depth, interlace in ((2, 16, 0), (2, 8, 1), (3, 8, 0)):
        _, bad = craft(color_type, depth, interlace, 3)
        with pytest.raises(ValueError, match="unsupported"):
            multimodal.decode_image(bad)


def test_bmp_row_padding_and_orientation():
    """Width not a multiple of 4 forces row padding; top-left pixel
    must come back in place (bottom-up flip correct)."""
    px = np.zeros((3, 5, 3), dtype=np.uint8)
    px[0, 0] = (255, 10, 20)   # top-left marker
    px[2, 4] = (1, 2, 3)       # bottom-right marker
    got = multimodal.decode_image(multimodal.encode_bmp(px))
    assert np.array_equal(got, px.astype(np.float64) / 255.0)


def test_extract_features_real_decode_path(spark):
    """deterministic_fake=False over the planted real-image table:
    every row decodes for real (no fake branch possible) and the
    decoded dims in the feature vector match the planted metadata."""
    media = multimodal.make_real_image_media(spark, 12)
    out = (
        multimodal.extract_features(media, deterministic_fake=False)
        .toPandas().set_index("media_id").sort_index()
    )
    meta = media.select("media_id", "meta.width", "meta.height").toPandas(
    ).set_index("media_id").sort_index()
    for m in out.index:
        f = out.loc[m, "features"]
        assert (f[0], f[1], f[2]) == (meta.loc[m, "width"], meta.loc[m, "height"], 3)
        assert 0.0 <= f[3] <= 1.0
        # luma histogram sums to 1
        assert abs(sum(f[8:24]) - 1.0) < 1e-5


def test_ivf_topk_recall_vs_brute_force(spark, embs):
    """IVF with nprobe=4/16 recovers most of the exact top-5 and is
    perfect with nprobe == n_centroids (search-everything reduces to
    brute force)."""
    pdf = embs.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    queries = [(int(pdf["vec_id"][i]), mat[i].tolist()) for i in (0, 7, 11)]
    exact = similarity.brute_force_topk(embs, queries, k=5).toPandas()
    full = similarity.ivf_topk(embs, queries, k=5, n_centroids=8, nprobe=8).toPandas()
    for qid, _ in queries:
        e = exact[exact["query_id"] == qid].sort_values("rank")["vec_id"].tolist()
        f = full[full["query_id"] == qid].sort_values("rank")["vec_id"].tolist()
        assert f == e, (qid, f, e)
    approx = similarity.ivf_topk(embs, queries, k=5, n_centroids=16, nprobe=4).toPandas()
    hits = total = 0
    for qid, _ in queries:
        e = set(exact[exact["query_id"] == qid]["vec_id"])
        a = set(approx[approx["query_id"] == qid]["vec_id"])
        hits += len(e & a)
        total += len(e)
        # a query vector always lands in its own probe list
        assert qid in a
    assert hits / total >= 0.5, (hits, total)


def test_ivf_index_partition_pruning(spark, embs, tmp_path):
    """The IVF scale claim, proven on a real plan: with the corpus
    written partitionBy(centroid), the probe filter is a
    PartitionFilter (directory pruning — unprobed lists are never
    opened), and the indexed results exactly match the index-free
    formulation (same deterministic quantizer)."""
    import os
    import re

    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(embs, path, n_centroids=8)
    # physical layout: one directory per inverted list
    assert sorted(d for d in os.listdir(path) if d.startswith("centroid=")) == [
        f"centroid={i}" for i in range(8)
    ]
    pruned = spark.read.parquet(path).filter(F.col("centroid").isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*centroid", plan), plan

    pdf = embs.toPandas()
    queries = [(int(pdf["vec_id"][i]), list(map(float, pdf["embedding"][i]))) for i in (0, 7)]
    indexed = similarity.ivf_topk_indexed(spark, path, queries, k=5, nprobe=2).toPandas()
    free = similarity.ivf_topk(embs, queries, k=5, n_centroids=8, nprobe=2).toPandas()
    key = ["query_id", "rank"]
    assert indexed.sort_values(key)["vec_id"].tolist() == free.sort_values(key)["vec_id"].tolist()


def test_ivf_index_full_probe_contract_and_planted_centroids(spark, tmp_path):
    """Pins the IVF index LAYOUT contract (round-2 verdict ask):
    (1) planted-centroid case — four orthogonal, tightly-clustered
    directions train to four distinct centroids; an nprobe=1 query on
    one direction returns ONLY that cluster's members (the probe
    really is a single inverted list);
    (2) full-probe equality — ivf_topk_indexed(nprobe == n_centroids)
    == index-free ivf_topk == brute force, exactly, on the same
    deterministically trained centroids."""
    rng = np.random.default_rng(5)
    dirs = np.eye(8)[:4]
    rows = []
    for c in range(4):
        for i in range(40):
            v = dirs[c] + rng.normal(0, 0.02, 8)
            rows.append((c * 100 + i, [float(x) for x in v / np.linalg.norm(v)]))
    embs = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    path = str(tmp_path / "ivf4")
    cents = similarity.write_ivf_index(embs, path, n_centroids=4, train_sample=160)

    # each planted direction is owned by exactly one centroid
    owner = np.argmax(similarity._normalize(dirs) @ cents.T, axis=1)
    assert len(set(owner.tolist())) == 4

    got = similarity.ivf_topk_indexed(
        spark, path, [(999, dirs[0].tolist())], k=10, nprobe=1
    ).toPandas()
    assert len(got) == 10
    assert set((got["vec_id"] // 100).tolist()) == {0}

    pdf = embs.toPandas()
    queries = [
        (int(pdf["vec_id"][i]), list(map(float, pdf["embedding"][i])))
        for i in (0, 45, 130)
    ]
    key = ["query_id", "rank"]
    brute = similarity.brute_force_topk(embs, queries, k=5).toPandas().sort_values(key)
    idx_full = similarity.ivf_topk_indexed(
        spark, path, queries, k=5, nprobe=4
    ).toPandas().sort_values(key)
    free_full = similarity.ivf_topk(
        embs, queries, k=5, n_centroids=4, nprobe=4, train_sample=160
    ).toPandas().sort_values(key)
    assert idx_full["vec_id"].tolist() == brute["vec_id"].tolist()
    assert free_full["vec_id"].tolist() == brute["vec_id"].tolist()
    assert np.allclose(idx_full["cosine"].to_numpy(), brute["cosine"].to_numpy())


def test_topk_partials_matches_lexsort_oracle():
    """``_topk_partials`` keeps, per query and probed cell, that cell's
    min(k, members) best rows. Oracle: a numpy lexsort per (query,
    cell). Covers a cell with fewer than k members, k above the batch
    size, queries spread over several cells, a probed cell with no row
    in the batch, and an empty probe map."""
    rng = np.random.default_rng(3)
    n, d = 40, 8
    ids = np.arange(1000, 1000 + n, dtype=np.int64)
    vecs = similarity._normalize(rng.standard_normal((n, d)))
    cells = np.repeat([0, 1, 2], [3, 17, 20])  # cell 0: fewer than k rows
    q_ids = np.array([7, 8, 9], dtype=np.int64)
    q_mat = similarity._normalize(rng.standard_normal((3, d)))
    q_by_cell = {0: np.array([0, 2]), 1: np.array([0, 1]), 2: np.array([1, 2]),
                 3: np.array([0])}  # cell 3: probed, absent from the batch
    for k in (5, n + 10):
        got = similarity._topk_partials(ids, vecs, cells, q_ids, q_mat, q_by_cell, k)
        got = dict(zip(zip(got.column("query_id").to_pylist(),
                           got.column("vec_id").to_pylist()),
                       got.column("cosine").to_pylist()))
        want = {}
        for c, q_idx in q_by_cell.items():
            members = np.flatnonzero(cells == c)
            for qi in q_idx:
                sims = vecs[members] @ q_mat[qi]
                for j in np.lexsort((ids[members], -sims))[:k]:
                    want[(int(q_ids[qi]), int(ids[members][j]))] = sims[j]
        assert sorted(got) == sorted(want), k
        assert np.allclose([got[key] for key in want], list(want.values()), atol=1e-12)
    empty = similarity._topk_partials(ids, vecs, cells, q_ids, q_mat, {}, 5)
    assert empty.num_rows == 0 and empty.schema.names == ["query_id", "vec_id", "cosine"]


def test_topk_merges_partials_across_many_batches(spark, tmp_path):
    """With 50-record Arrow batches each task emits one partial top-k
    per batch; the rank window must still return the exact top-k of a
    numpy lexsort oracle (cosine desc, vec_id asc): over the whole
    corpus for brute force and the full-probe index-free IVF, and over
    the probed cells' rows for the indexed IVF."""
    rng = np.random.default_rng(11)
    n, d, k = 600, 16, 7
    mat = rng.standard_normal((n, d)).astype(np.float32)
    ids = np.arange(n, dtype=np.int64) * 3
    embs = spark.createDataFrame(
        [(int(ids[i]), mat[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).repartition(3)
    unit = similarity._normalize(mat.astype(np.float64))
    queries = [(int(ids[i]), mat[i].tolist()) for i in (0, 17, 301, 599)]
    path = str(tmp_path / "ivf")

    def oracle(rows_of_query):
        want = {}
        for qid, qvec in queries:
            rows = rows_of_query(qid)
            q = np.asarray(qvec, np.float64)
            sims = unit[rows] @ (q / np.linalg.norm(q))
            want[qid] = ids[rows][np.lexsort((ids[rows], -sims))[:k]].tolist()
        return want

    def ranked(df):
        out = df.toPandas().sort_values(["query_id", "rank"])
        return {q: g["vec_id"].tolist() for q, g in out.groupby("query_id")}

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "50")
    try:
        brute = ranked(similarity.brute_force_topk(embs, queries, k=k))
        free = ranked(similarity.ivf_topk(embs, queries, k=k, n_centroids=6, nprobe=6))
        similarity.write_ivf_index(embs, path, n_centroids=6)
        indexed = ranked(similarity.ivf_topk_indexed(spark, path, queries, k=k, nprobe=2))
        cell = spark.read.parquet(path).toPandas().set_index("vec_id")["centroid"]
    finally:
        spark.conf.set(key, prev)
    everything = oracle(lambda qid: np.arange(n))
    assert brute == everything
    assert free == everything
    probes = similarity.ivf_probe_lists(path, queries, 2)
    cells = cell.reindex(ids).to_numpy()
    assert indexed == oracle(lambda qid: np.flatnonzero(np.isin(cells, probes[qid])))


def test_topk_entries_accept_empty_query_list(spark, embs, tmp_path):
    """A caller whose id filter matches nothing passes ``queries=[]``:
    every top-k entry returns an empty frame with the documented
    columns (and the probe helper an empty map) instead of failing on
    the driver."""
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(embs, path, n_centroids=4)
    assert similarity.ivf_probe_lists(path, [], nprobe=2) == {}
    for out in (
        similarity.brute_force_topk(embs, [], k=3),
        similarity.ivf_topk_indexed(spark, path, [], k=3),
        similarity.ivf_topk(embs, [], k=3),
    ):
        assert out.columns == ["query_id", "vec_id", "cosine", "rank"]
        assert out.count() == 0


def test_minhash_planted_pairs_recall(spark, docs):
    """The entry-contract shape: every planted near-dup pair must be
    recovered by the MinHash LSH sweep."""
    planted = docs.select("doc_id", "text").unionByName(
        docs.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.lit("zq "), F.substring("text", 5, 1 << 20)).alias("text"),
        )
    )
    out = dedup.near_duplicates_minhash(planted, threshold=0.5).toPandas()
    pairs = set(zip(out["a"], out["b"]))
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    missing = [i for i in ids if (i, i + 100000) not in pairs]
    assert not missing, missing[:10]


def test_winnowing_guarantee_and_overlap(spark, docs):
    """Winnowing guarantee: any shared substring of length >= k+w-1
    yields a shared fingerprint; planted near-dups must overlap
    heavily, unrelated docs must not tie them."""
    planted = docs.select("doc_id", "text").unionByName(
        docs.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.lit("zq "), F.substring("text", 5, 1 << 20)).alias("text"),
        )
    )
    fps = dedup.winnow_fingerprints(planted, k=5, window=4)
    overlap = dedup.winnow_overlap(fps, min_containment=0.8).toPandas()
    pairs = set(zip(overlap["a"], overlap["b"]))
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    missing = [i for i in ids if (i, i + 100000) not in pairs]
    assert not missing, missing[:10]


def test_winnow_fingerprints_position_independent(spark):
    """The same motif fingerprints identically wherever it appears
    (the winnowing property head/tail sampling lacks)."""
    motif = "def compute_scores(frame, weights): return frame.dot(weights) # shared"
    df = spark.createDataFrame(
        [(1, "AAAA " * 10 + motif), (2, motif + " ZZZZ " * 10)],
        ["doc_id", "text"],
    )
    fps = dedup.winnow_fingerprints(df).toPandas()
    s1 = set(fps[fps["doc_id"] == 1]["fingerprint"])
    s2 = set(fps[fps["doc_id"] == 2]["fingerprint"])
    assert len(s1 & s2) >= 5


def test_connected_components_matches_union_find(spark):
    """Random sparse graph: min-label propagation must agree with a
    driver-side union-find oracle (same component = same min node)."""
    import random

    rng = random.Random(7)
    n = 120
    edges = sorted({
        tuple(sorted((rng.randrange(n), rng.randrange(n))))
        for _ in range(90)
        if True
    })
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for a, b in edges:
        for v in (a, b):
            want[v] = find(v)

    pairs = spark.createDataFrame(edges, ["a", "b"])
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == want


def test_connected_components_max_iter_zero_returns_initial_labels(spark):
    """max_iter=0 runs no propagation round: every node keeps its own
    label, with no non-convergence warning (ADVICE: it raised
    NameError on the unbound change count)."""
    import warnings

    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["a", "b"])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = dedup.connected_components(pairs, "a", "b", max_iter=0)
    assert {r["node"]: r["component"] for r in out.collect()} == {1: 1, 2: 2, 3: 3}
    assert not [w for w in caught if "converge" in str(w.message)]


def test_connected_components_chain_needs_transitivity(spark):
    """A diameter-7 path collapses to one component — the case pairwise
    LSH output alone cannot express."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(7)], ["a", "b"])
    out = dedup.connected_components(pairs).toPandas()
    assert set(out["component"]) == {0}
    assert set(out["node"]) == set(range(8))


def _cluster_tok(cluster: str, j: int, version: int = 0) -> str:
    import hashlib

    return hashlib.md5(f"{cluster}/{j}/{version}".encode()).hexdigest()[:12]


def test_dedupe_near_duplicates_chain_clique_exact_unique(spark):
    """End-to-end fused dedup over all four cluster topologies:
    a 5-clique of near-identical docs, a 5-chain whose ENDS are below
    threshold (transitivity required), a byte-identical exact pair
    (contracted by the exact_first pass), and a unique passthrough.
    Canonical = min doc_id per cluster, closed form."""
    from sparkval.pipeline.dedup import dedupe_near_duplicates

    rows = []
    base = [_cluster_tok("clique", j) for j in range(24)]
    for m in range(5):
        rows.append((10 + m, " ".join(base) + f" m{m}"))
    # chain: doc i flips tokens [0, 3i) to version 1 -> adjacent J~0.82
    # (per-pair LSH miss ~7e-5), ends J~0.43 < threshold (transitive
    # closure is what groups them; a lucky end-to-end hit is harmless —
    # it lands inside the same component)
    for i in range(5):
        toks = [_cluster_tok("chain", j, 1 if j < 3 * i else 0) for j in range(30)]
        rows.append((20 + i, " ".join(toks)))
    exact = " ".join(_cluster_tok("exact", j) for j in range(24))
    rows.append((30, exact))
    rows.append((31, exact))
    rows.append((40, " ".join(_cluster_tok("uniq", j) for j in range(24))))

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = dedupe_near_duplicates(df, threshold=0.5)
    assert sorted(r["doc_id"] for r in kept.select("doc_id").collect()) == [10, 20, 30, 40]


def test_minhash_sweep_leaves_no_cached_tables(spark):
    """Unpersist discipline (round-2 verdict nit): after a
    near_duplicates_minhash sweep materializes, the signature cache
    must be gone — repeated sweeps in a long-lived session must not
    accrete cached plans."""
    import pandas as pd

    spark.catalog.clearCache()
    pdf = pd.DataFrame(
        {
            "doc_id": range(40),
            "text": [f"document number {i} with some shared words" for i in range(40)],
        }
    )
    out = dedup.near_duplicates_minhash(spark.createDataFrame(pdf), threshold=0.5)
    out.count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dedupe_near_duplicates_simhash_method(spark):
    """The fused dedup with the SimHash candidate generator: exact
    copies (hamming 0 -> pigeonhole-guaranteed recall) plus a unique
    doc; canonical = min id per cluster."""
    from sparkval.pipeline.dedup import dedupe_near_duplicates

    t1 = " ".join(_cluster_tok("s1", j) for j in range(24))
    t2 = " ".join(_cluster_tok("s2", j) for j in range(24))
    rows = [(1, t1), (2, t1 + " x"), (5, t1), (9, t2)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # exact_first contracts (1, 5); simhash links 2 to the survivor 1
    # (one-token suffix on a 24-token doc stays within hamming 3)
    kept = dedupe_near_duplicates(df, method="simhash", max_hamming=3)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 9]


def test_dedupe_cosine_keeps_canonical_per_cluster(spark):
    """Fused embedding dedup: planted scaled-copy clusters collapse to
    their lowest-id member; singletons pass through; plan stays off
    the all-pairs path."""
    import numpy as np

    from sparkval.pipeline.similarity import dedupe_near_duplicates_cosine

    rng = np.random.default_rng(3)
    base = rng.normal(size=(40, 64)).astype(np.float32)
    rows = [(i, base[i].tolist()) for i in range(40)]
    # ids 1000+i are x3 copies of i for i in 0..9 -> 10 clusters of 2
    rows += [(1000 + i, (base[i] * 3.0).tolist()) for i in range(10)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    kept = dedupe_near_duplicates_cosine(df, threshold=0.98)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    ids = {r["vec_id"] for r in kept.collect()}
    assert ids == set(range(40))  # copies dropped, originals kept


def test_dedupe_near_duplicates_winnow_method(spark):
    """method='winnow' routes the fused dedup through MOSS containment:
    exact copies (containment 1.0) collapse to the lowest id; distinct
    docs survive."""
    from sparkval.pipeline.dedup import dedupe_near_duplicates

    import hashlib as _h

    def body(i: int) -> str:
        # genuinely distinct content per doc: near-identical bodies
        # (e.g. one differing digit) legitimately exceed containment
        # 0.8 under winnowing, which is the operator working as
        # specified, not what this test is probing
        toks = [_h.sha1(f"{i}:{j}".encode()).hexdigest()[:8] for j in range(40)]
        return " ".join(toks)

    docs = [(i, body(i)) for i in range(20)]
    # ids 50/51 byte-identical to 0 (exact pass) and 60 a near-copy of
    # 1 with a suffix (winnow containment catches the embedding)
    docs += [(50, docs[0][1]), (51, docs[0][1]),
             (60, docs[1][1] + " trailing boilerplate appended here")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    kept = dedupe_near_duplicates(df, threshold=0.8, method="winnow")
    ids = {r["doc_id"] for r in kept.collect()}
    assert 50 not in ids and 51 not in ids  # exact copies dropped
    assert 60 not in ids                    # contained near-copy dropped
    assert set(range(20)) <= ids


def test_dedup_report_accounting(spark):
    """dedup_report: exact row/char accounting with and without
    cluster stats; zero-removal corpora report cleanly."""
    from sparkval.pipeline.dedup import (
        dedup_report,
        dedupe_near_duplicates,
        near_duplicates_minhash,
    )

    import hashlib as _h

    def body(i):
        return " ".join(_h.sha1(f"{i}:{j}".encode()).hexdigest()[:8] for j in range(30))

    rows = [(i, body(i)) for i in range(12)]
    rows += [(100 + i, rows[i][1]) for i in range(4)]  # 4 exact copies
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = dedupe_near_duplicates(df, threshold=0.8)
    pairs = near_duplicates_minhash(df, threshold=0.8, materialize=False)
    rep = dedup_report(df, kept, pairs=pairs).collect()[0]
    assert rep["in_rows"] == 16 and rep["kept_rows"] == 12
    assert rep["removed_rows"] == 4 and rep["removed_fraction"] == 0.25
    assert rep["n_clusters"] == 4 and rep["max_cluster_size"] == 2
    assert rep["in_chars"] > rep["kept_chars"] > 0
    spark.catalog.clearCache()

    # nothing to remove: fractions zero, no cluster columns requested
    uniq = spark.createDataFrame(rows[:5], ["doc_id", "text"])
    rep2 = dedup_report(uniq, uniq).collect()[0]
    assert rep2["removed_rows"] == 0 and rep2["removed_fraction"] == 0.0
    assert "n_clusters" not in rep2.asDict()


def test_ivf_clustered_design_case_recall_one(spark):
    """IVF on planted tight clusters (its design case) must reach
    recall EXACTLY 1.0 at nprobe=2-of-8 — the farthest-point init
    contract in action (round-4 verdict #6)."""
    import __spark_entry__ as entry

    row = entry.q_ivf_clustered_recall_embeddings(spark, "unused").first()
    assert row["n_queries"] == 4
    assert row["each_query_k_rows"] and row["recall_exactly_one"]


def test_wav_decoder_roundtrip_and_features():
    """PCM16 RIFF round-trip decodes bit-equal to raw/32768; the
    feature vector carries integral frame/rate/zero-crossing stats."""
    rng = np.random.default_rng(3)
    raw = rng.integers(-32768, 32768, (500, 2)).astype(np.int16)
    dec, rate = multimodal.decode_wav(multimodal.encode_wav(raw, 44100))
    assert rate == 44100 and dec.shape == (500, 2)
    assert np.array_equal(dec, raw.astype(np.float64) / 32768.0)
    f = multimodal.audio_features(dec, rate)
    assert (f[0], f[1], f[2]) == (500, 44100, 2)
    mono = raw[:, 0]
    want_zc = int(np.count_nonzero((mono[1:] >= 0) != (mono[:-1] >= 0)))
    assert int(f[6]) == want_zc
    with pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFF\x04\x00\x00\x00AVI ")


def test_extract_features_real_audio_path(spark):
    """deterministic_fake=False over planted PCM WAVs: the real
    decoder feeds the feature vector (no fake branch), dims/duration
    match the planted metadata."""
    media = multimodal.make_real_audio_media(spark, 8)
    out = (
        multimodal.extract_features(media, deterministic_fake=False)
        .toPandas().set_index("media_id").sort_index()
    )
    meta = media.select("media_id", "meta.duration_ms").toPandas(
    ).set_index("media_id").sort_index()
    for m in out.index:
        f = out.loc[m, "features"]
        assert f[1] == 8000 and f[2] == 2
        assert f[3] == meta.loc[m, "duration_ms"]
        assert 0.0 < f[4] < 1.0  # rms of the planted ramp


def test_decontaminate_thirteen_gram_rule(spark):
    """Docs sharing a full 13-token window with the benchmark drop;
    12-token overlaps survive; short docs never match."""
    bench_text = " ".join(f"b{i}" for i in range(20))
    b13 = " ".join(f"b{i}" for i in range(13))        # a full window
    b12 = " ".join(f"b{i}" for i in range(12))        # one short
    corpus = spark.createDataFrame(
        [
            (1, "clean words " + " ".join(f"c{i}" for i in range(30))),
            (2, "prefix words here " + b13 + " suffix tail"),   # contaminated
            (3, "prefix words here " + b12 + " different tail x y z"),  # 12 only
            (4, b13),                                           # exact window doc
            (5, "short doc"),                                   # < 13 tokens
        ],
        ["doc_id", "text"],
    )
    benchmark = spark.createDataFrame([(100, bench_text)], ["doc_id", "text"])
    kept = {
        r["doc_id"]
        for r in dedup.decontaminate(corpus, benchmark, n=13).select("doc_id").collect()
    }
    assert kept == {1, 3, 5}


def test_token_budget_sample_equals_flat_rule(spark, docs):
    """The scale-safe two-level plan (bucket sums -> boundary window)
    must EXACTLY equal the flat per-row cumsum rule, including null
    and empty texts; budgets nest (a bigger budget's sample is a
    superset); degenerate budgets behave."""
    from pyspark.sql import Window

    from sparkval.pipeline import sampling

    extra = spark.createDataFrame(
        [(90001, None, "en"), (90002, "   ", "en"), (90003, "one two", "zz")],
        ["doc_id", "text", "lang"],
    )
    d = docs.select("doc_id", "text", "lang").unionByName(extra)

    def flat(budget):
        key = F.sha2(F.col("doc_id").cast("string"), 256)
        toks = F.when(
            F.col("text").isNull() | (F.trim(F.col("text")) == ""), F.lit(0)
        ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        w = Window.partitionBy("lang").orderBy(key, "doc_id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return {
            r["doc_id"]
            for r in d.withColumn("_c", F.sum(toks.cast("long")).over(w))
            .filter(F.col("_c") <= budget).select("doc_id").collect()
        }

    got_3k = {
        r["doc_id"]
        for r in sampling.token_budget_sample(d, 3000).select("doc_id").collect()
    }
    assert got_3k == flat(3000)
    got_9k = {
        r["doc_id"]
        for r in sampling.token_budget_sample(d, 9000).select("doc_id").collect()
    }
    assert got_9k == flat(9000)
    assert got_3k <= got_9k  # nested budgets
    # budget 0 keeps exactly the zero-token rows the flat rule keeps
    assert {
        r["doc_id"]
        for r in sampling.token_budget_sample(d, 0).select("doc_id").collect()
    } == flat(0)
    # budget beyond the corpus keeps everything
    n_all = d.count()
    assert sampling.token_budget_sample(d, 10**9).count() == n_all
    with pytest.raises(ValueError):
        sampling.token_budget_sample(d, -1)


def test_repetition_stats_gopher_rule(spark):
    """Planted repetition flags; distinct-line docs don't; blank lines
    are ignored; null/empty texts produce zeros, not nulls."""
    line = "this exact line repeats many times in the document"
    rep = "\n".join([line] * 7 + ["one unique closing line"])
    clean = "\n".join(f"distinct line number {i} here" for i in range(10))
    blanks = "a\n\n  \nb\n\na"  # 'a' repeats among non-blank lines
    df = spark.createDataFrame(
        [(1, rep), (2, clean), (3, blanks), (4, None), (5, "")],
        ["doc_id", "text"],
    )
    out = (
        text.with_repetition_stats(df)
        .select("doc_id", "n_lines", "dup_line_frac", "dup_char_frac",
                "is_repetitive")
        .toPandas().set_index("doc_id")
    )
    assert out.loc[1, "is_repetitive"] and out.loc[1, "dup_line_frac"] == 7 / 8
    assert not out.loc[2, "is_repetitive"] and out.loc[2, "dup_line_frac"] == 0.0
    assert out.loc[3, "n_lines"] == 3 and out.loc[3, "dup_line_frac"] == 2 / 3
    for d in (4, 5):
        assert out.loc[d, "n_lines"] == 0
        assert out.loc[d, "dup_line_frac"] == 0.0
        assert not out.loc[d, "is_repetitive"]


def test_hash_split_stable_and_covering(spark, docs):
    """Every row lands in exactly one split, assignment is a pure
    function of doc_id (stable under repartition/appends), the default
    800/100/100 mix is roughly honored, and bad permille maps fail."""
    from sparkval.pipeline import sampling

    d = docs.select("doc_id")
    out = sampling.hash_split(d).select("doc_id", "split")
    pdf = out.toPandas()
    assert pdf["split"].isin(["train", "val", "test"]).all()  # total coverage
    n = len(pdf)
    frac = pdf["split"].value_counts(normalize=True)
    assert abs(frac["train"] - 0.8) < 0.05
    # stability: a repartitioned, filtered view assigns identically
    again = (
        sampling.hash_split(d.repartition(7).filter(F.col("doc_id") % 2 == 0))
        .select("doc_id", "split").toPandas().set_index("doc_id")["split"]
    )
    base = pdf.set_index("doc_id")["split"]
    assert (base.loc[again.index] == again).all()
    with pytest.raises(ValueError):
        sampling.hash_split(d, {"train": 700, "val": 100})  # sums to 800
    with pytest.raises(ValueError):
        sampling.hash_split(d, {"a": 1100, "b": -100})


def test_mixture_report_accounting(spark):
    """Known token counts -> exact shares and rebalance weights, for
    both the uniform default target and an explicit target mix."""
    from sparkval.pipeline import sampling

    df = spark.createDataFrame(
        [(1, "a b c d e f", "en"), (2, "a b", "en"), (3, "x y", "de"),
         (4, None, "de"), (5, "  ", "zz")],
        ["doc_id", "text", "lang"],
    )
    out = sampling.mixture_report(df, group_col="lang").toPandas().set_index("lang")
    assert out.loc["en", "n_docs"] == 2 and out.loc["en", "n_tokens"] == 8
    assert out.loc["de", "n_tokens"] == 2 and out.loc["zz", "n_tokens"] == 0
    assert abs(out.loc["en", "token_share"] - 0.8) < 1e-12
    # uniform target over 3 groups = 1/3; weight = target/share
    assert abs(out.loc["en", "mix_weight"] - (1 / 3) / 0.8) < 1e-12
    assert np.isnan(out.loc["zz", "mix_weight"])  # zero-token group
    tgt = sampling.mixture_report(
        df, group_col="lang", target={"en": 0.5, "de": 0.5, "zz": 0.0}
    ).toPandas().set_index("lang")
    assert abs(tgt.loc["de", "mix_weight"] - 0.5 / 0.2) < 1e-12
    assert tgt.loc["zz", "target_share"] == 0.0


def test_pack_sequences_equals_flat_rule(spark, docs):
    """The two-level bucketed packing plan must EXACTLY equal the flat
    per-group cumsum rule; offsets are in range; pack token usage is
    consistent (each doc's start offset == running sum of prior docs)."""
    from pyspark.sql import Window

    from sparkval.pipeline import sampling

    extra = spark.createDataFrame(
        [(90001, None, "en"), (90002, "   ", "en"), (90003, "one two", "zz")],
        ["doc_id", "text", "lang"],
    )
    d = docs.select("doc_id", "text", "lang").unionByName(extra)
    ctx = 512
    out = sampling.pack_sequences(d, ctx_tokens=ctx, group_col="lang").select(
        "doc_id", "lang", "pack_id", "offset_in_pack", "n_tokens"
    ).toPandas().set_index("doc_id")

    key = F.sha2(F.col("doc_id").cast("string"), 256)
    toks = F.when(
        F.col("text").isNull() | (F.trim(F.col("text")) == ""), F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    w = Window.partitionBy("lang").orderBy(key, "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flat = (
        d.withColumn("_off", F.sum(toks.cast("long")).over(w) - toks)
        .select("doc_id", "_off").toPandas().set_index("doc_id")["_off"]
    )
    assert len(out) == d.count()
    for doc_id, row in out.iterrows():
        off = flat.loc[doc_id]
        assert row["pack_id"] == off // ctx, doc_id
        assert row["offset_in_pack"] == off % ctx, doc_id
    assert (out["offset_in_pack"] >= 0).all()
    assert (out["offset_in_pack"] < ctx).all()
    with pytest.raises(ValueError):
        sampling.pack_sequences(d, ctx_tokens=0)


def test_gopher_quality_each_rule(spark):
    """One document per failure mode: each Gopher rule fires exactly
    where designed, and a clean long doc passes all five."""
    good = ("the quick brown fox jumps over a lazy dog and that dog did "
            "not have any care in the world because life felt simple with "
            "friends around every single day bringing fresh bread games "
            "songs stories laughter kindness warmth comfort peace hope joy "
            "and gentle rain on quiet rooftops near the old mill")
    df = spark.createDataFrame(
        [
            (1, good),
            (2, "too short to pass the word count rule"),  # < 50 words
            (3, " ".join(["ab"] * 60)),  # mean word len 2 < 3
            (4, " ".join(["#tag"] * 20 + ["the be to of and that have with"] * 8)),
            (5, " ".join(["1234"] * 60)),  # no alphabetic words
            (6, " ".join(f"w{i}x" for i in range(60))),  # no stopwords
            (7, None),
        ],
        ["doc_id", "text"],
    )
    out = text.with_gopher_quality(df).toPandas().set_index("doc_id")
    assert bool(out.loc[1, "gopher_keep"])
    assert not out.loc[2, "rule_words"]
    assert not out.loc[3, "rule_word_len"]
    assert not out.loc[4, "rule_symbols"]
    assert out.loc[4, "symbol_word_ratio"] == pytest.approx(20 / 84)
    assert not out.loc[5, "rule_alpha"]
    assert not out.loc[6, "rule_stopwords"] and out.loc[6, "stopword_hits"] == 0
    # good text contains the/and/that/have/with -> 5 DISTINCT stopwords
    assert out.loc[1, "stopword_hits"] == 5
    assert out.loc[7, "n_words"] == 0 and not out.loc[7, "gopher_keep"]
    assert not out["gopher_keep"].drop(1).any()


def test_pii_stats_and_redaction(spark):
    """Planted emails/IPs/phones count correctly; redaction replaces
    every occurrence and leaves clean text untouched."""
    df = spark.createDataFrame(
        [
            (1, "reach me at a.b+c@example.co.uk or x@y.io thanks"),
            (2, "server 10.0.0.1 talked to 192.168.1.255 today"),
            (3, "call 555-123-4567 now"),
            (4, "no pii here at all"),
            (5, None),
        ],
        ["doc_id", "text"],
    )
    out = text.with_pii_stats(
        df.withColumn("text", F.coalesce("text", F.lit("")))
    ).toPandas().set_index("doc_id")
    assert out.loc[1, "n_email"] == 2 and bool(out.loc[1, "has_pii"])
    assert out.loc[2, "n_ipv4"] == 2
    assert out.loc[3, "n_phone"] == 1
    assert out.loc[4].loc[["n_email", "n_ipv4", "n_phone"]].sum() == 0
    assert not out.loc[4, "has_pii"] and not out.loc[5, "has_pii"]
    red = text.redact_pii(
        df.withColumn("text", F.coalesce("text", F.lit("")))
    ).toPandas().set_index("doc_id")["text_redacted"]
    assert red.loc[1] == "reach me at [PII] or [PII] thanks"
    assert red.loc[2] == "server [PII] talked to [PII] today"
    assert red.loc[3] == "call [PII] now"
    assert red.loc[4] == "no pii here at all"


def test_vocab_topk_counts_and_ties(spark):
    """Exact occurrence + doc-frequency counts on a tiny corpus;
    deterministic tie-break on the term string; k validation."""
    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "Apple date")],
        ["doc_id", "text"],
    )
    out = text.vocab_topk(df, k=3).toPandas()
    assert list(out.columns) == ["term", "n_occurrences", "n_docs"]
    assert out.iloc[0]["term"] == "apple" and out.iloc[0]["n_occurrences"] == 3
    assert out.iloc[0]["n_docs"] == 2  # doc 1 twice counts once
    assert out.iloc[1]["term"] == "banana" and out.iloc[1]["n_docs"] == 2
    # cherry/date tie at 1 occurrence -> 'cherry' wins alphabetically
    assert out.iloc[2]["term"] == "cherry"
    with pytest.raises(ValueError):
        text.vocab_topk(df, k=0)


def test_dedupe_against_drops_near_copies(spark):
    """Corpus docs with an exact or near copy in the reference set are
    dropped; unrelated reference docs drop nothing; an empty reference
    is a no-op. Cross-corpus analog of near_duplicates_minhash."""
    base = [
        (i, f"doc number {i} with unique words alpha{i} beta{i} gamma{i} " * 5)
        for i in range(30)
    ]
    corpus = spark.createDataFrame(base, ["doc_id", "text"])
    ref = spark.createDataFrame(
        [
            (900, base[3][1]),  # exact copy of doc 3
            (901, base[7][1].replace("alpha7", "alphaQ", 1)),  # near copy of 7
            (902, "completely unrelated reference text about oceans and storms " * 6),
        ],
        ["doc_id", "text"],
    )
    clean = dedup.dedupe_against(corpus, ref, threshold=0.7)
    kept = {r["doc_id"] for r in clean.select("doc_id").collect()}
    assert kept == set(range(30)) - {3, 7}
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.dedupe_against(corpus, empty).count() == 30


def test_cluster_embeddings_recovers_planted_clusters(spark):
    """Distributed spherical k-means on its design case: 8 tight
    planted clusters must be recovered exactly (each planted group in
    one cluster, 8 distinct clusters, winning cosine ~1), and the
    whole pipeline is deterministic across runs."""
    rng = np.random.default_rng(99)
    C, M, D = 8, 40, 16
    jit = rng.standard_normal((C * M, D))
    jit = 0.02 * jit / np.linalg.norm(jit, axis=1, keepdims=True)
    vecs = np.repeat(np.eye(C, D), M, axis=0) + jit
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(C * M)],
        "vec_id long, embedding array<float>",
    )
    out = similarity.cluster_embeddings(df, k=C, iters=3).toPandas()
    out["planted"] = out["vec_id"] // M
    by_group = out.groupby("planted")["cluster"].nunique()
    assert (by_group == 1).all()  # each planted group -> one cluster
    assert out["cluster"].nunique() == C  # no two groups share a cluster
    assert (out["similarity"] > 0.99).all()
    again = similarity.cluster_embeddings(df, k=C, iters=3).toPandas()
    assert (out.sort_values("vec_id")["cluster"].to_numpy()
            == again.sort_values("vec_id")["cluster"].to_numpy()).all()
    with pytest.raises(ValueError):
        similarity.cluster_embeddings(df, k=0)


def test_duplicated_spans_planted_passages(spark):
    """Span-level dedup: a passage shared by two documents is found as
    one maximal merged span in each (overlapping anchors coalesce); a
    within-document repeat also counts toward min_count; unique text
    yields no spans; parameter validation."""
    shared = " ".join(f"dupseg{i:02d}" for i in range(20))  # 20 words
    uniq = lambda tag, k: " ".join(f"{tag}{i}" for i in range(k))  # noqa: E731
    rows = [
        (1, f"{uniq('a', 30)} {shared} {uniq('b', 10)}"),   # span at [30, 50)
        (2, f"{shared} {uniq('c', 40)}"),                   # span at [0, 20)
        (3, uniq("d", 60)),                                 # clean
        (4, f"{uniq('e', 5)} {shared} {uniq('f', 3)} {shared}"),  # twice
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = (
        dedup.duplicated_spans(df, n=13)
        .orderBy("doc_id", "span_start").toPandas()
    )
    got = {
        (r.doc_id, r.span_start, r.span_end) for r in out.itertuples()
    }
    assert (1, 30, 50) in got
    assert (2, 0, 20) in got
    assert not any(r.doc_id == 3 for r in out.itertuples())
    d4 = out[out["doc_id"] == 4]
    assert len(d4) == 2 and set(d4["n_words"]) == {20}
    assert (out["n_words"] == out["span_end"] - out["span_start"]).all()
    with pytest.raises(ValueError):
        dedup.duplicated_spans(df, min_count=1)


def test_connected_components_warns_when_unconverged(spark):
    from sparkval.pipeline.dedup import connected_components

    # a path graph 0-1-2-...-9: diameter 9 needs ~9 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["a", "b"]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        labels = connected_components(pairs, max_iter=2, check_every=1)
        labels.count()
    assert any(
        "did not converge" in str(w.message) for w in caught
    ), [str(w.message) for w in caught]

    # enough rounds: converges silently to ONE component
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        labels = connected_components(pairs, max_iter=25, check_every=1)
        comps = {r["component"] for r in labels.collect()}
    assert comps == {0}
    assert not any("did not converge" in str(w.message) for w in caught)
