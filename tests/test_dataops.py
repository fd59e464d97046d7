"""Training-data operators: dedup family, similarity search, media
plumbing, refdata ingest, streaming."""

import json

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox jumps over the very lazy dog"),     # near dup
        (3, "completely different text about spark partitions"),
        (4, "another unrelated document mentioning shuffle joins"),
        (5, "the quick brown fox jumps over the lazy dog today"),    # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    from pycrawler_spark.operators.dedup import exact_dedup

    out = exact_dedup(docs).select("doc_id").collect()
    ids = sorted(r.doc_id for r in out)
    assert ids == [0, 2, 3, 4, 5]  # doc 1 dropped, min-id kept


def test_minhash_lsh_finds_near_dups(docs):
    from pycrawler_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, shingle_k=1)
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs, bands=4).collect()}
    assert (0, 1) in pairs            # identical docs always collide
    assert not any(                   # unrelated docs don't
        (a, b) in pairs for a, b in [(0, 3), (0, 4), (3, 4)]
    )


def test_minhash_dedup_keeps_uniques(docs):
    from pycrawler_spark.operators.dedup import minhash_dedup

    kept = sorted(
        r.doc_id for r in minhash_dedup(docs, shingle_k=1, bands=4).collect()
    )
    assert 0 in kept and 3 in kept and 4 in kept
    assert 1 not in kept              # exact dup always dropped


def test_jaccard_pairs(docs, spark):
    from pycrawler_spark.operators.dedup import jaccard_pairs

    cands = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "id_a long, id_b long"
    )
    out = {(r.id_a, r.id_b): r.jaccard for r in
           jaccard_pairs(docs, cands, shingle_k=1).collect()}
    assert out[(0, 1)] == 1.0
    assert 0.5 < out[(0, 2)] < 1.0
    assert out.get((0, 3), 0.0) < 0.2 or (0, 3) not in out


def test_simhash_near_pairs(docs):
    from pycrawler_spark.operators.dedup import simhash_near_pairs, simhash_table

    sims = simhash_table(docs)
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             simhash_near_pairs(sims, max_hamming=8).collect()}
    assert pairs.get((0, 1)) == 0     # identical text -> identical simhash
    assert (0, 3) not in pairs


def test_similarity_brute_force_and_lsh_recall(spark):
    import numpy as np

    from pycrawler_spark.operators.similarity import (
        add_lsh_bucket,
        brute_force_topk,
        lsh_topk,
    )

    rng = np.random.default_rng(0)
    dim, n = 16, 400
    vecs = rng.standard_normal((n, dim)).astype("float32")
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    q = vecs[7].tolist()
    exact = [r.vec_id for r in brute_force_topk(df, q, k=10).collect()]
    assert exact[0] == 7              # the query vector itself wins
    bucketed = add_lsh_bucket(df, dim=dim, bits=6).cache()
    approx = [r.vec_id for r in
              lsh_topk(bucketed, q, k=10, bits=6, n_flip=2).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"LSH recall too low: {recall}"
    bucketed.unpersist()


def test_ivf_topk_recall_and_pruning(spark):
    """IVF must (a) rank the query vector itself first, (b) reach
    decent recall vs brute force while scanning only the probed cells,
    and (c) be deterministic (seeded init + fixed iterations)."""
    import numpy as np

    from pycrawler_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_fit,
        ivf_topk,
    )

    rng = np.random.default_rng(3)
    dim, n_clusters, per = 16, 5, 80
    centers = rng.standard_normal((n_clusters, dim)) * 4
    vecs = np.concatenate(
        [centers[i] + rng.standard_normal((per, dim)) for i in range(n_clusters)]
    ).astype("float32")
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    q = vecs[7].tolist()
    exact = [r.vec_id for r in brute_force_topk(df, q, k=10).collect()]

    c1 = ivf_fit(df, n_centroids=n_clusters, dim=dim, iters=3)
    c2 = ivf_fit(df, n_centroids=n_clusters, dim=dim, iters=3)
    assert np.allclose(c1, c2)  # deterministic training

    assigned = ivf_assign(df, c1).cache()
    top = ivf_topk(assigned, c1, q, k=10, n_probe=2).collect()
    assert top[0].vec_id == 7
    recall = len(set(exact) & {r.vec_id for r in top}) / 10
    assert recall >= 0.7, f"IVF recall too low: {recall}"
    # pruning actually prunes: probed candidate set < full table
    probed = ivf_topk(assigned, c1, q, k=10**6, n_probe=1).count()
    assert probed < len(vecs)
    assigned.unpersist()

    # the driver-side numpy twin (used to inline oracle constants)
    # reproduces the distributed fit: same init, same assignment rule,
    # same update — differences bounded by float summation order.
    from pycrawler_spark.operators.similarity import ivf_fit_local

    c3 = ivf_fit_local(vecs, n_centroids=n_clusters, iters=3)
    assert np.allclose(c1, c3, atol=1e-9), np.abs(c1 - c3).max()


def test_lsh_blocked_cosine_pairs_recall(spark):
    """The blocked near-dup path must recover (nearly) all exact pairs
    at a high threshold while generating far fewer candidate pairs
    than the O(n^2) cross product."""
    import numpy as np

    from pycrawler_spark.operators.similarity import (
        cosine_dup_pairs,
        lsh_blocked_cosine_pairs,
    )

    rng = np.random.default_rng(1)
    dim, n = 16, 300
    base = rng.standard_normal((n, dim)).astype("float32")
    # plant near-duplicates: rows n..n+49 are jittered copies of 0..49
    dups = base[:50] + 0.05 * rng.standard_normal((50, dim)).astype("float32")
    vecs = np.vstack([base, dups])
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    ).cache()
    thr = 0.9
    exact = {(r.id_a, r.id_b) for r in cosine_dup_pairs(df, thr).collect()}
    assert len(exact) >= 40  # the planted pairs are found by the oracle path
    blocked = {
        (r.id_a, r.id_b)
        for r in lsh_blocked_cosine_pairs(
            df, thr, dim=dim, bits=8, n_flip=1
        ).collect()
    }
    assert blocked <= exact  # blocking can only lose pairs, never invent
    recall = len(blocked & exact) / len(exact)
    assert recall >= 0.9, f"blocked cosine recall too low: {recall}"
    df.unpersist()


def test_media_feature_plumbing(spark):
    from pycrawler_spark.operators.media import extract_features, frame_sample

    rows = [
        (1, "u1", "image", "image/png", b"\x89PNGfake", {"w": "2"}),
        (2, "u2", "video", "video/mp4", b"\x00mp4fake", {}),
        (3, "u3", "audio", "audio/wav", None, {}),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, url string, kind string, content_type string, "
        "payload binary, meta map<string,string>",
    )
    feats = {r.media_id: r for r in extract_features(media, fake=True).collect()}
    assert feats[1].decode_ok and len(feats[1].feature) == 16
    assert feats[2].n_frames >= 1 and feats[2].duration_ms >= 0
    assert feats[3].decode_ok  # empty payload still decodes (fake path)
    # determinism
    again = {r.media_id: r for r in extract_features(media, fake=True).collect()}
    assert feats[1].feature == again[1].feature

    frames = frame_sample(media, every_n=4, fake=True).collect()
    assert all(r.frame_idx % 4 == 0 for r in frames)

    # resize plumbing: image rows only, dims clamped to target,
    # payload carried through, deterministic
    from pycrawler_spark.operators.media import resize

    rs = {r.media_id: r for r in resize(media, 32, 32, fake=True).collect()}
    assert set(rs) == {1}
    assert rs[1].resize_ok and rs[1].width <= 32 and rs[1].height <= 32
    assert bytes(rs[1].payload) == b"\x89PNGfake"

    # real path is stubbed: must raise NotImplementedError, not succeed
    import pytest as _pt

    from pycrawler_spark.operators.media import _real_decode

    with _pt.raises(NotImplementedError):
        _real_decode(b"x", "image")


def test_refdata_ingest(spark, tmp_path):
    from pycrawler_spark.sources.refdata import (
        load_disconnect,
        load_ocdb,
        merge_flags,
    )

    services = {
        "categories": {
            "FingerprintingInvasive": [
                {"FPCo": {"https://fp.example.com": ["fp.net", "fp2.net"]}}
            ],
            "Cryptomining": [
                {"MineCo": {"https://mine.example.org": ["mine.biz"]}}
            ],
            "Advertising": [
                {"AdCo": {"https://ads.example.com": ["ads.net"]}}
            ],
        }
    }
    (tmp_path / "services.json").write_text(json.dumps(services))
    ocdb = {
        "AdCo": [
            {"category": "Marketing", "domain": ".track.adco.com"},
            {"category": "Functional", "domain": "keep.adco.com"},
        ],
        "OtherCo": [{"category": "Analytics", "domain": "o.example.net"}],
    }
    (tmp_path / "ocdb.json").write_text(json.dumps(ocdb))

    dis = load_disconnect(spark, str(tmp_path / "services.json"))
    oc = load_ocdb(spark, str(tmp_path / "ocdb.json"))
    ent, sites = merge_flags(dis.unionByName(oc))
    e = {r.entity: r for r in ent.collect()}
    assert e["FPCo"].fingerprinting and e["FPCo"].tracking
    assert e["MineCo"].malicious and not e["MineCo"].fingerprinting
    assert e["AdCo"].tracking and not e["AdCo"].malicious
    s = {r.site: r for r in sites.collect()}
    assert s["fp.net"].fingerprinting
    # homepage eTLD+1 added (get_url_site of https://fp.example.com)
    assert "example.com" in s
    assert s["track.adco.com"].tracking   # dots stripped
    assert "keep.adco.com" not in s       # Functional cookies excluded


def test_streaming_watch_seeds(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus
    from pycrawler_spark.streaming.stream import watch_seeds

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=42, n_hosts=4, pages_per_host=8, mega_factor=2
    )
    eng = CrawlEngine(
        spark, str(tmp_path / "job"), CrawlConfig(depth=1, max_urls=10), job="s"
    )
    # start with the first two seeds only
    full = spark.read.parquet(seeds_p)
    eng.init_job(full.filter(F.col("rank") <= 2), pages_p)
    eng.run()
    n0 = eng.table("fetches").count()

    # stream in the remaining seeds as two files
    seeds_dir = tmp_path / "incoming"
    seeds_dir.mkdir()
    rest = full.filter(F.col("rank") > 2).collect()
    half = len(rest) // 2
    for i, chunk in enumerate([rest[:half], rest[half:]]):
        tbl = pa.Table.from_pylist(
            [{"rank": r.rank, "url": r.url} for r in chunk],
            schema=pa.schema([("rank", pa.int32()), ("url", pa.string())]),
        )
        pq.write_table(tbl, seeds_dir / f"batch{i}.parquet")

    watch_seeds(eng, str(seeds_dir), available_now=True)
    n1 = eng.table("fetches").count()
    assert n1 > n0
    tasks = eng._read("tasks", [max(eng._committed(eng._load_manifest(), "tasks"))])
    assert tasks.count() == full.count() - 1  # bogus.invalidtld dropped

    # replaying the same directory is a no-op (checkpoint + idempotent merge)
    watch_seeds(eng, str(seeds_dir), available_now=True)
    assert eng.table("fetches").count() == n1


def test_streaming_fetch_metrics(spark, tmp_path):
    """Windowed + watermarked streaming aggregation over the engine's
    fetches log (S5/T2 analog), availableNow trigger."""
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus
    from pycrawler_spark.streaming.stream import stream_fetch_metrics

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=3, n_hosts=3, pages_per_host=8, mega_factor=1
    )
    eng = CrawlEngine(
        spark, str(tmp_path / "job"), CrawlConfig(depth=1, max_urls=10), job="m"
    )
    eng.init_job(spark.read.parquet(seeds_p), pages_p)
    eng.run()
    out = str(tmp_path / "metrics_out")
    stream_fetch_metrics(spark, str(tmp_path / "job"), out, available_now=True)
    got = spark.read.parquet(out)
    rows = got.collect()
    assert rows and {"window_start", "host", "n_fetches", "n_ok"} <= set(got.columns)
    # append-mode watermark semantics: every closed window is emitted;
    # the final wave's window stays open when the stream drains
    total = sum(r.n_fetches for r in rows)
    last_wave = eng._load_manifest()["waves"][-1]["wave_id"]
    expected = eng.table("fetches").filter(
        F.col("wave_id") < last_wave
    ).count()
    assert total == expected and expected > 0


def test_stateful_token_bucket_scheduler(spark, tmp_path):
    """T7 streaming form: applyInPandasWithState per-host token bucket
    — allowance carries across micro-batches (burst after idle),
    grants are a seq-prefix, robots rows never consume tokens."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pycrawler_spark.streaming.stateful import stream_schedule

    fdir = tmp_path / "frontier_stream"
    fdir.mkdir()

    def rows(host, seqs):
        return [
            {
                "task_id": 1,
                "url": f"https://{host}/p{s}",
                "url_norm": f"https://{host}/p{s}",
                "host": host,
                "depth": 1,
                "repetition": 1,
                "seq": s,
                "from_url": None,
            }
            for s in seqs
        ]

    schema = pa.schema(
        [
            ("task_id", pa.int64()),
            ("url", pa.string()),
            ("url_norm", pa.string()),
            ("host", pa.string()),
            ("depth", pa.int32()),
            ("repetition", pa.int32()),
            ("seq", pa.int64()),
            ("from_url", pa.string()),
        ]
    )
    # batch 1: a.com saturated (30 rows), b.org barely used (2 rows)
    pq.write_table(
        pa.Table.from_pylist(
            rows("a.com", range(30)) + rows("b.org", range(2)), schema=schema
        ),
        fdir / "f1.parquet",
    )
    time.sleep(1.1)  # distinct mtimes -> deterministic file order
    # batch 2: b.org bursts (25 rows) using carried allowance
    pq.write_table(
        pa.Table.from_pylist(
            rows("a.com", range(100, 115)) + rows("b.org", range(100, 125)),
            schema=schema,
        ),
        fdir / "f2.parquet",
    )
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /p7\n")], "host string, rules string"
    )
    out = str(tmp_path / "grants")
    stream_schedule(
        spark, str(fdir), out, robots=robots, refill=10, capacity=20
    )
    g = spark.read.parquet(out).toPandas()

    a1 = g[(g.host == "a.com") & (g.seq < 100)]
    a2 = g[(g.host == "a.com") & (g.seq >= 100)]
    b1 = g[(g.host == "b.org") & (g.seq < 100)]
    b2 = g[(g.host == "b.org") & (g.seq >= 100)]
    # robots: /p7 blocked, consumed no token
    assert bool(a1[a1.seq == 7].blocked.iloc[0])
    assert not bool(a1[a1.seq == 7].granted.iloc[0])
    # batch1: a grants exactly refill(10) of its 29 allowed rows
    assert int(a1.granted.sum()) == 10
    # grants are a seq-prefix of the ALLOWED rows (0..10 skipping 7)
    assert sorted(a1[a1.granted].seq) == [0, 1, 2, 3, 4, 5, 6, 8, 9, 10]
    # batch1: b grants its 2 rows, banks 8 tokens
    assert int(b1.granted.sum()) == 2
    assert int(b1.tokens_left.iloc[0]) == 8
    # batch2: a refilled to 10 -> grants 10 of 15
    assert int(a2.granted.sum()) == 10
    # batch2: b bursts min(20, 8+10)=18 (STATE carried across batches)
    assert int(b2.granted.sum()) == 18
    assert sorted(b2[b2.granted].seq) == list(range(100, 118))


def test_derive_robots_from_corpus(spark, tmp_path):
    """Robots rules derived from the corpus's /robots.txt pages match
    the generator's side-channel robots fixture exactly."""
    from pycrawler_spark.sources.corpus import write_corpus
    from pycrawler_spark.sources.robots import derive_robots

    pages_p, _, robots_p = write_corpus(
        str(tmp_path / "c"), seed=42, n_hosts=6, pages_per_host=8, mega_factor=2
    )
    got = {
        (r.host, r.rules, r.crawl_delay)
        for r in derive_robots(spark.read.parquet(pages_p)).collect()
    }
    want = {
        (r.host, r.rules, r.crawl_delay)
        for r in spark.read.parquet(robots_p).collect()
    }
    assert got == want
    assert len(got) > 0


def test_dup_clusters_components(spark):
    """Chain a-b-c collapses to one cluster labeled by its min id;
    isolated nodes stay their own canonical cluster."""
    from pycrawler_spark.operators.dedup import dup_clusters

    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    # 0-1, 1-2 (chain), 4-5; 3 isolated
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    out = {r.doc_id: (r.cluster_id, r.is_canonical)
           for r in dup_clusters(nodes, pairs).collect()}
    assert out == {
        0: (0, True), 1: (0, False), 2: (0, False),
        3: (3, True), 4: (4, True), 5: (4, False),
    }


def test_pack_sequences_greedy_boundaries(spark):
    """Boundary semantics: a doc that would overflow starts a new
    pack; an oversize doc gets its own pack (and the next doc starts
    fresh); groups pack independently."""
    from pycrawler_spark.operators.curation import pack_sequences

    rows = [
        (1, "a", "w " * 3),    # 4 tokens (trailing empty token counts)
        (2, "a", "w " * 3),
        (3, "a", "w " * 9),    # 10 tokens -> 4+4+10 > 10: new pack
        (4, "a", "w " * 19),   # 20 tokens, oversize -> own pack
        (5, "a", "w"),         # 1 token  -> after oversize: new pack
        (6, "b", "w"),         # other group restarts at pack 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r.doc_id: r.pack_id
           for r in pack_sequences(df, capacity=10).collect()}
    assert out[1] == 1 and out[2] == 1
    assert out[3] == 2
    assert out[4] == 3
    assert out[5] == 4
    assert out[6] == 1


def test_hash_split_stable_and_complete(spark):
    from pycrawler_spark.operators.curation import hash_split

    df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    a = {r.doc_id: r.split for r in hash_split(df).collect()}
    b = {r.doc_id: r.split for r in hash_split(df).collect()}
    assert a == b                       # deterministic
    assert set(a.values()) == {"train", "val", "test"}
    frac_train = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.8 < frac_train < 0.97      # ~90% with hash noise

    # weights must sum to 100 (a typo'd (90, 5, 4) would silently
    # shrink the test split)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hash_split(df, weights=(90, 5, 4))

    # every bucket 0-99 is reachable: the bucket comes from real hash
    # bits, not hex code points (which left 5 dead buckets and skewed
    # the advertised split fractions)
    big = spark.createDataFrame([(i,) for i in range(5000)], "doc_id long")
    buckets = {r.bucket for r in hash_split(big).select("bucket").distinct().collect()}
    assert buckets == set(range(100)), sorted(set(range(100)) - buckets)


def test_dup_clusters_long_chain_and_convergence_signal(spark):
    """A 30-node path graph must converge well inside the default
    round budget (pointer jumping: O(log diameter)), and a too-small
    max_iters must raise instead of silently returning multi-canonical
    clusters."""
    import pytest as _pytest

    from pycrawler_spark.operators.dedup import dup_clusters

    n = 30
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = dup_clusters(nodes, pairs, max_iters=7).collect()
    assert all(r.cluster_id == 0 for r in out)
    assert sum(1 for r in out if r.is_canonical) == 1

    with _pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(nodes, pairs, max_iters=1)


def test_media_real_kernels_when_pillow_present(spark):
    """fake=False runs the real kernels, which are stubs: every row
    becomes an error row carrying NotImplementedError (decode_ok /
    resize_ok false), never a crashed batch."""
    from pycrawler_spark.operators import media as M

    rows = [(1, "u1", "image", "image/png", b"not-a-real-png", {})]
    df = spark.createDataFrame(
        rows,
        "media_id long, url string, kind string, content_type string, "
        "payload binary, meta map<string,string>",
    )
    out = M.extract_features(df, fake=False).collect()[0]
    assert out.decode_ok is False
    assert "NotImplementedError" in out.decode_error
    res = M.resize(df, 16, 16, fake=False).collect()[0]
    assert res.resize_ok is False
    assert "NotImplementedError" in res.resize_error


def test_boilerplate_shingle_stats(spark):
    from pycrawler_spark.operators.curation import boilerplate_shingle_stats

    # hostA: 3 docs share the "nav bar" 2-gram; hostB: no repetition
    rows = [
        (1, "nav bar alpha beta", "hostA"),
        (2, "nav bar gamma delta", "hostA"),
        (3, "nav bar epsilon zeta", "hostA"),
        (4, "unique words only here", "hostB"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in
           boilerplate_shingle_stats(df, k=2, min_docs=3).collect()}
    assert out[1].n_boiler == 1 and out[1].boiler_ratio > 0
    assert out[4].n_boiler == 0 and out[4].boiler_ratio == 0.0
    # the shared span counts once per doc (shingles are distinct)
    assert out[2].n_shingles == 3


def test_boilerplate_null_doc_id_dropped(spark):
    """Review-found regression guard: the pre-r5 form attached the
    group column with an equi-join on doc_id, which dropped NULL-id
    docs; the carried-through-the-explode form must keep that
    semantics — no NULL-id output row, and NULL-id docs never push a
    shingle over min_docs for real docs."""
    from pycrawler_spark.operators.curation import boilerplate_shingle_stats

    rows = [(1, "a b c", "s"), (None, "a b x", "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in
           boilerplate_shingle_stats(df, k=2, min_docs=2).collect()}
    assert set(out) == {1}
    assert out[1].n_boiler == 0 and out[1].n_shingles == 2


def test_hash_sample_deterministic_and_stratified(spark):
    from pycrawler_spark.operators.curation import hash_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        "doc_id long, lang string",
    )
    a = {r.doc_id for r in hash_sample(df, {"en": 0.5, "de": 0.1}).collect()}
    b = {r.doc_id for r in hash_sample(df, {"en": 0.5, "de": 0.1}).collect()}
    assert a == b  # deterministic
    en = sum(1 for i in a if i % 2 == 0) / 1000
    de = sum(1 for i in a if i % 2 == 1) / 1000
    assert 0.4 < en < 0.6 and 0.05 < de < 0.16
    # subset stability: raising a rate only ADDS docs, never drops
    bigger = {r.doc_id for r in
              hash_sample(df, {"en": 0.8, "de": 0.1}).collect()}
    assert a <= bigger


def test_fuzzy_decontaminate_flags_near_dups(spark):
    from pycrawler_spark.operators.curation import fuzzy_decontaminate

    bench = spark.createDataFrame(
        [(100, "the capital of france is paris obviously")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the capital of france is paris obviously"),   # verbatim
            (2, "paris is obviously the capital of france"),   # same word set
            (3, "completely unrelated text about spark engines"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in fuzzy_decontaminate(docs, bench).collect()}
    assert out[1].contaminated_fuzzy and out[1].n_hit_bands == 8
    assert out[2].contaminated_fuzzy  # word-set minhash: same set -> same sig
    assert not out[3].contaminated_fuzzy


def test_bm25_scores_ranking(spark):
    from pycrawler_spark.operators.ranking import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark shuffle join"),
            (2, "spark join filter scan table"),
            (3, "no relevant terms at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.bm25 for r in
           bm25_scores(docs, ["spark", "shuffle"]).collect()}
    assert 3 not in out              # zero-term docs absent
    assert out[1] > out[2] > 0       # tf + extra term dominate


def test_ngram_repetition_stats(spark):
    from pycrawler_spark.operators.quality import ngram_repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),            # one bigram dominates
            (2, "w x y z p q r s"),            # all bigrams unique
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_repetition_stats(docs).collect()}
    assert out[1].top_bigram_share > 0.5
    assert out[1].dup_trigram_frac == 1.0
    assert out[2].top_bigram_share < 0.2
    assert out[2].dup_trigram_frac == 0.0


def test_ngram_repetition_matches_relational_form(spark):
    """The r5 zero-shuffle (sorted-run-fold) form must be bit-identical
    to the original relational formulation (explode -> count per
    (doc, md5(gram)) -> per-doc stats), here replayed in-test."""
    import random

    from pyspark.sql import functions as F

    from pycrawler_spark.operators.quality import ngram_repetition_stats

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
        for i in range(60)
    ] + [(60, "solo"), (61, "two tokens"), (62, "x x x x x x"),
         # NULL text: the relational form drops it (exploding a NULL
         # gram array yields no rows) and since r6 the fold form does
         # too (r5 advisor finding)
         (63, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def relational(k, agg):
        toks = F.split(F.col("text"), " ")
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
        # NULL text emits no row (the DuckDB oracle's explode-of-NULL
        # semantics; this Spark replay needs the explicit filter
        # because concat_ws treats a NULL slice as empty and would
        # otherwise fabricate a '' gram)
        cnt = (docs.filter(F.col("text").isNotNull())
               .select("doc_id", F.explode(grams).alias("gram"))
               .groupBy("doc_id", F.md5("gram").alias("g"))
               .agg(F.count("*").alias("c")))
        return cnt.groupBy("doc_id").agg(agg.alias("v"))

    bi = relational(2, F.max("c") / F.sum("c"))
    tri = relational(
        3, F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        / F.sum("c"))
    want = {
        r.doc_id: (round(r.top, 4), round(r.dup, 4))
        for r in bi.join(tri.withColumnRenamed("v", "dup"), "doc_id")
        .withColumnRenamed("v", "top").collect()
    }
    got = {r.doc_id: (r.top_bigram_share, r.dup_trigram_frac)
           for r in ngram_repetition_stats(docs).collect()}
    assert got == want


def test_ngram_repetition_plan_no_exchange(spark, docs):
    """The scale claim: both Gopher repetition signals are
    within-document, so the operator is a pure map stage — zero
    shuffles, no Window, no join."""
    from pycrawler_spark.operators.quality import ngram_repetition_stats

    plan = (ngram_repetition_stats(docs)._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("Exchange") == 0, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_group_quality_rollup(spark):
    from pycrawler_spark.operators.quality import group_quality_rollup

    good = "one " + " ".join(f"w{i}" for i in range(30))
    bad = "x x x"
    docs = spark.createDataFrame(
        [(1, good, "s1", "en"), (2, bad, "s1", "en"), (3, good, "s2", "de")],
        "doc_id long, text string, source string, lang string",
    )
    out = {(r.source, r.lang): r for r in group_quality_rollup(docs).collect()}
    assert out[("s1", "en")].n_docs == 2
    assert out[("s1", "en")].pass_rate == 0.5
    assert out[("s2", "de")].pass_rate == 1.0


def test_stream_crawl_matches_batch_run(spark, tmp_path):
    """The Structured-Streaming wave loop (frontier log as the stream
    source, one wave per micro-batch) must produce EXACTLY the fetch
    rows of the batch driver loop on the same corpus, and terminate by
    itself when the frontier stops growing."""
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus
    from pycrawler_spark.streaming.stream import stream_crawl

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=21, n_hosts=4, pages_per_host=8,
        mega_factor=2,
    )

    def fetches(eng):
        rows = eng.table("fetches").select(
            "task_id", "url", "url_norm", "depth", "seq", "code",
            "body_sha256",
        ).collect()
        return sorted(tuple(r) for r in rows)

    cfg = dict(depth=2, max_urls=12)
    batch = CrawlEngine(
        spark, str(tmp_path / "batch"), CrawlConfig(**cfg), job="b"
    )
    batch.init_job(spark.read.parquet(seeds_p), pages_p)
    batch_stats = batch.run()

    stream = CrawlEngine(
        spark, str(tmp_path / "stream"), CrawlConfig(**cfg), job="b"
    )
    stream.init_job(spark.read.parquet(seeds_p), pages_p)
    stream_stats = stream_crawl(stream)

    assert fetches(stream) == fetches(batch)
    assert [s["scheduled"] for s in stream_stats] == [
        s["scheduled"] for s in batch_stats
    ]
    # a second invocation is a no-op (crawl complete, offsets advanced)
    assert stream_crawl(stream) == []


def test_stream_crawl_politeness_subwaves(spark, tmp_path):
    """Politeness mode splits a depth into sub-waves, most of which
    insert no frontier rows — the streaming loop must run those inline
    (no file would arrive to wake it) and still match the batch run."""
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus
    from pycrawler_spark.streaming.stream import stream_crawl

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=23, n_hosts=3, pages_per_host=6,
    )
    cfg = dict(depth=1, max_urls=10, politeness=True,
               wave_interval_ms=18_000)  # budget = 18000/6000 = 3/host/wave

    def run(tag, streaming):
        eng = CrawlEngine(
            spark, str(tmp_path / tag), CrawlConfig(**cfg), job="p"
        )
        eng.init_job(spark.read.parquet(seeds_p), pages_p)
        stats = stream_crawl(eng) if streaming else eng.run()
        rows = eng.table("fetches").select(
            "task_id", "url", "depth", "code"
        ).collect()
        return stats, sorted(tuple(r) for r in rows)

    bs, bf = run("batch", False)
    ss, sf_ = run("stream", True)
    assert sf_ == bf
    assert len(ss) == len(bs) and len(ss) > 2  # really multiple sub-waves


def test_stream_crawl_resumes_partial_crawl(spark, tmp_path):
    """stream_crawl entering a job that already ran some waves (e.g.
    after a driver crash) must complete the remaining waves via the
    initial out-of-stream kick, ending with the same fetch rows as an
    uninterrupted batch run."""
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus
    from pycrawler_spark.streaming.stream import stream_crawl

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=37, n_hosts=3, pages_per_host=6,
    )
    cfg = dict(depth=2, max_urls=10)

    full = CrawlEngine(
        spark, str(tmp_path / "full"), CrawlConfig(**cfg), job="j"
    )
    full.init_job(spark.read.parquet(seeds_p), pages_p)
    full.run()

    part = CrawlEngine(
        spark, str(tmp_path / "part"), CrawlConfig(**cfg), job="j"
    )
    part.init_job(spark.read.parquet(seeds_p), pages_p)
    part._run_wave(part._load_manifest(), 0)   # wave 1 only, then "crash"

    resumed = CrawlEngine(
        spark, str(tmp_path / "part"), CrawlConfig(**cfg), job="j"
    )
    resumed.resume()
    stats = stream_crawl(resumed)
    # depth 0 was already fetched; the stream runs depths 1..2
    assert {s["depth"] for s in stats} == {1, 2}

    def fetches(eng):
        rows = eng.table("fetches").select(
            "task_id", "url", "depth", "code", "body_sha256"
        ).collect()
        return sorted(tuple(r) for r in rows)

    assert fetches(resumed) == fetches(full)


def test_asof_join_semantics(spark):
    from pycrawler_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, "u"), (2, 20, "u"), (3, 5, "u"), (4, 50, "v")],
        "id long, ts long, user string",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"), F.col("user"))
    right = spark.createDataFrame(
        [(100, 8, "u"), (101, 20, "u"), (102, 99, "v")],
        "rid long, ts long, user string",
    ).select("rid", F.col("ts").cast("timestamp").alias("ts"), F.col("user"))
    out = {r.id: r.r_rid for r in
           asof_join(left, right, by="user").collect()}
    assert out[1] == 100      # latest right at-or-before ts=10
    assert out[2] == 101      # tie at equal ts matches (<=)
    assert out[3] is None     # nothing precedes ts=5
    assert out[4] is None     # v's only right row is later


def test_range_join_bucketed(spark):
    from pycrawler_spark.operators.temporal import range_join

    pts = spark.createDataFrame(
        [(1, 100, "u"), (2, 5000, "u"), (3, 100, "v")],
        "id long, t long, user string",
    ).select("id", F.col("t").cast("timestamp").alias("ts"), "user")
    iv = spark.createDataFrame(
        [("u", 50, 200), ("u", 90, 110), ("v", 300, 400)],
        "user string, s long, e long",
    ).select(
        "user",
        F.col("s").cast("timestamp").alias("start_ts"),
        F.col("e").cast("timestamp").alias("end_ts"),
    )
    rows = range_join(pts, iv, by="user", bucket_seconds=60).collect()
    got = sorted((r.id, int(r.start_ts.timestamp())) for r in rows)
    # point 1 falls in BOTH u-windows; 2 and 3 in none
    assert got == [(1, 50), (1, 90)]

    # plan: candidates meet on an equi-join, never a cross product
    plan = range_join(pts, iv, by="user", bucket_seconds=60)._jdf \
        .queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_matches_local_twin(spark):
    """Spark PageRank == the pure-Python twin on a graph with a
    dangling node and a multi-edge; ranks sum to ~1."""
    from pycrawler_spark.operators.graph import pagerank, pagerank_local

    edge_list = [("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"),
                 ("a", "d")]  # d is dangling
    df = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(df, iters=10).collect()}
    want = pagerank_local(edge_list, iters=10)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # authority flows: b (two in-edges from a) outranks d (one)
    assert got["b"] > got["d"]


def test_topk_per_group_salted_matches_plain_window(spark):
    """The salted two-phase top-k must equal the single-window answer
    on a skewed distribution (one group holds 90% of rows), including
    rank values."""
    from pyspark.sql import Window

    from pycrawler_spark.operators.ranking import topk_per_group

    df = spark.range(5000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise("cold").alias("g"),
        F.col("id").alias("v"),
    )
    order = [F.col("v").desc()]
    w = Window.partitionBy("g").orderBy(*order)
    plain = {
        (r.g, r.v, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 7).collect()
    }
    salted = {
        (r.g, r.v, r.rn)
        for r in topk_per_group(df, ["g"], order, k=7,
                                salt_on=["v"]).collect()
    }
    assert salted == plain and len(plain) == 14


def test_asof_join_property_vs_pandas_merge_asof(spark):
    """Randomized (seeded) equivalence: asof_join == pandas
    merge_asof(direction='backward') over many users with duplicate
    and out-of-range timestamps."""
    import numpy as np
    import pandas as pd

    from pycrawler_spark.operators.temporal import asof_join

    rng = np.random.default_rng(7)
    lpdf = pd.DataFrame({
        "id": range(400),
        "user": rng.integers(0, 20, 400).astype(str),
        "t": rng.integers(0, 10_000, 400),
    })
    rpdf = pd.DataFrame({
        "rid": range(1000, 1300),
        "user": rng.integers(0, 20, 300).astype(str),
        "t": rng.integers(0, 10_000, 300),
    }).drop_duplicates(["user", "t"])  # unique (user, ts) => well-defined
    left = spark.createDataFrame(lpdf).select(
        "id", "user", F.col("t").cast("timestamp").alias("ts")
    )
    right = spark.createDataFrame(rpdf).select(
        "rid", "user", F.col("t").cast("timestamp").alias("ts")
    )
    got = {r.id: r.r_rid for r in asof_join(left, right, by="user").collect()}

    want_df = pd.merge_asof(
        lpdf.assign(ts=pd.to_datetime(lpdf.t, unit="s")).sort_values("ts"),
        rpdf.assign(ts=pd.to_datetime(rpdf.t, unit="s")).sort_values("ts"),
        on="ts", by="user", direction="backward",
    )
    want = {
        int(r.id): (None if pd.isna(r.rid) else int(r.rid))
        for r in want_df.itertuples()
    }
    assert got == want


def test_asof_chunked_property_vs_pandas_merge_asof(spark):
    """``chunk=N`` (the built-in mega-key mitigation) must reproduce
    merge_asof EXACTLY on a single-key dataset — the case it exists
    for — across chunk widths, including widths that leave long runs
    of chunks with no right rows (those rows depend entirely on the
    carried boundary row), plus a multi-key run at one width."""
    import numpy as np
    import pandas as pd

    from pycrawler_spark.operators.temporal import asof_join

    rng = np.random.default_rng(13)
    lpdf = pd.DataFrame({
        "id": range(400),
        "user": "k",
        "t": rng.integers(0, 10_000, 400),
    })
    # right rows only in the first 3000 s: every later chunk has no
    # right rows and must match via carry-in alone
    rpdf = pd.DataFrame({
        "rid": range(1000, 1150),
        "user": "k",
        "t": rng.integers(0, 3000, 150),
    }).drop_duplicates(["user", "t"])
    left = spark.createDataFrame(lpdf).select(
        "id", "user", F.col("t").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(rpdf).select(
        "rid", "user", F.col("t").cast("timestamp").alias("ts"))
    want_df = pd.merge_asof(
        lpdf.assign(ts=pd.to_datetime(lpdf.t, unit="s")).sort_values("ts"),
        rpdf.assign(ts=pd.to_datetime(rpdf.t, unit="s")).sort_values("ts"),
        on="ts", by="user", direction="backward",
    )
    want = {
        int(r.id): (None if pd.isna(r.rid) else int(r.rid))
        for r in want_df.itertuples()
    }
    for chunk in (500, 1000, 7000, 50_000):
        got = {r.id: r.r_rid for r in
               asof_join(left, right, by="user", chunk=chunk).collect()}
        assert got == want, f"chunk={chunk}"

    # multi-key: same answer as the unchunked mode
    lpdf2 = lpdf.assign(user=rng.integers(0, 7, len(lpdf)).astype(str))
    rpdf2 = rpdf.assign(user=rng.integers(0, 7, len(rpdf)).astype(str)) \
        .drop_duplicates(["user", "t"])
    left2 = spark.createDataFrame(lpdf2).select(
        "id", "user", F.col("t").cast("timestamp").alias("ts"))
    right2 = spark.createDataFrame(rpdf2).select(
        "rid", "user", F.col("t").cast("timestamp").alias("ts"))
    base = {r.id: r.r_rid for r in
            asof_join(left2, right2, by="user").collect()}
    got2 = {r.id: r.r_rid for r in
            asof_join(left2, right2, by="user", chunk=777).collect()}
    assert got2 == base


def test_asof_chunked_null_ts_matches_unchunked(spark):
    """NULL timestamps: the chunked mode's NULL chunk sorts before
    every real chunk (same NULLS-FIRST order as the unchunked sort),
    so outputs must match — a NULL-ts right row is the 'earliest'
    right row either way, and NULL-ts left rows can only match
    NULL-ts right rows."""
    from pycrawler_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "k", None), (2, "k", 50), (3, "k", 500)],
        "id long, user string, t long",
    ).select("id", "user", F.col("t").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(100, "k", None), (101, "k", 10), (102, "k", 400)],
        "rid long, user string, t long",
    ).select("rid", "user", F.col("t").cast("timestamp").alias("ts"))
    base = sorted((r.id, r.r_rid)
                  for r in asof_join(left, right, by="user").collect())
    got = sorted((r.id, r.r_rid)
                 for r in asof_join(left, right, by="user",
                                    chunk=100).collect())
    assert got == base == [(1, 100), (2, 101), (3, 102)]


def test_asof_chunked_null_only_right_rows_carry(spark):
    """Review-found regression guard: when a key's ONLY preceding
    right row has a NULL timestamp, the cross-chunk carry must still
    propagate it — a bare max_by(_rv, _ts) skips NULL ordering values
    and silently drops the NULL chunk from the carry, diverging from
    the unchunked NULLS-FIRST semantics."""
    from pycrawler_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "k", 500), (2, "k", 50)], "id long, user string, t long"
    ).select("id", "user", F.col("t").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(100, "k", None)], "rid long, user string, t long"
    ).select("rid", "user", F.col("t").cast("timestamp").alias("ts"))
    base = sorted((r.id, r.r_rid)
                  for r in asof_join(left, right, by="user").collect())
    got = sorted((r.id, r.r_rid)
                 for r in asof_join(left, right, by="user",
                                    chunk=100).collect())
    assert got == base == [(1, 100), (2, 100)]


def test_asof_chunked_multi_partition_plan(spark):
    """The chunked mode's point, plan-asserted: the main as-of window
    partitions by (key, chunk) — a mega-key spreads over span/chunk
    window partitions instead of serializing into one task."""
    import re

    from pycrawler_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(i, "k", i * 10) for i in range(100)], "id long, user string, t long"
    ).select("id", "user", F.col("t").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(1000 + i, "k", i * 25) for i in range(40)],
        "rid long, user string, t long",
    ).select("rid", "user", F.col("t").cast("timestamp").alias("ts"))
    out = asof_join(left, right, by="user", chunk=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the big window's spec carries BOTH _k and _c as partition keys
    assert re.search(r"windowspecdefinition\(_k#\d+, _c#\d+L, _ts", plan), plan
    # and the data really lands in >1 chunk (10 chunks of 100 s here)
    n_chunks = (
        left.select(F.floor(F.unix_timestamp("ts") / 100))
        .distinct().count()
    )
    assert n_chunks == 10


def test_range_join_property_vs_naive_join(spark):
    """Randomized (seeded) equivalence: the bucketed range join ==
    the naive conditional BETWEEN join, across bucket widths."""
    import numpy as np

    from pycrawler_spark.operators.temporal import range_join

    rng = np.random.default_rng(11)
    pts = spark.createDataFrame(
        [(i, str(rng.integers(0, 8)), int(rng.integers(0, 50_000)))
         for i in range(500)],
        "id long, user string, t long",
    ).select("id", "user", F.col("t").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [(str(rng.integers(0, 8)), int(s), int(s + rng.integers(0, 5000)))
         for s in rng.integers(0, 50_000, 60)],
        "user string, s long, e long",
    ).select(
        "user",
        F.col("s").cast("timestamp").alias("start_ts"),
        F.col("e").cast("timestamp").alias("end_ts"),
    )
    naive = pts.join(iv, "user").filter(
        F.col("ts").between(F.col("start_ts"), F.col("end_ts"))
    ).select("id", "start_ts", "end_ts")
    want = sorted(tuple(r) for r in naive.collect())
    for bucket in (60, 600, 7200):
        got = sorted(
            (r.id, r.start_ts, r.end_ts)
            for r in range_join(pts, iv, by="user",
                                bucket_seconds=bucket).collect()
        )
        assert got == want, f"bucket_seconds={bucket}"


def test_unigram_logprob_ranks_gibberish_low(spark):
    from pycrawler_spark.operators.quality import unigram_logprob_scores

    common = "the data table joins the data table " * 5
    docs = spark.createDataFrame(
        [(1, common.strip()),
         (2, "the data table joins again"),
         (3, "zxqv wplk qqjy mxnb vvzt")],  # rare-token gibberish
        "doc_id long, text string",
    )
    out = {r.doc_id: r.avg_logprob for r in
           unigram_logprob_scores(docs).collect()}
    assert out[1] > out[2] > out[3]


def test_asof_join_null_value_in_matched_row_not_backfilled(spark):
    """A NULL field in the matched right row must stay NULL — not be
    backfilled from an older right row (which would fabricate a row
    that never existed; DuckDB ASOF semantics keep the row whole)."""
    from pycrawler_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, "u")], "id long, t long, user string"
    ).select("id", F.col("t").cast("timestamp").alias("ts"), "user")
    right = spark.createDataFrame(
        [(100, 5, 1.0, "u"), (101, 8, None, "u")],
        "rid long, t long, value double, user string",
    ).select(
        "rid", F.col("t").cast("timestamp").alias("ts"), "value", "user"
    )
    row = asof_join(left, right, by="user").collect()[0]
    assert row.r_rid == 101
    assert row.r_value is None  # NOT 1.0 from the older row


def test_exact_dedup_null_text_and_identical_rows(spark):
    """NULL-text rows form one duplicate class with a min-id survivor
    (not silently dropped by the equality join), and fully identical
    rows collapse to one — the window semantics the aggregation path
    replaced."""
    from pycrawler_spark.operators.dedup import exact_dedup

    rows = [(1, None), (2, None), (3, "x"), (3, "x"), (4, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted((r.doc_id, r.text) for r in exact_dedup(df).collect())
    assert out == [(1, None), (3, "x")]


def test_exact_dedup_null_ids_survive(spark):
    """A class whose only rows have NULL ids keeps one row; a mixed
    class keeps the min NON-NULL id (documented divergence from the
    window's nulls-first order — the real key is the useful survivor)."""
    from pycrawler_spark.operators.dedup import exact_dedup

    rows = [(None, "only-null"), (None, "only-null"),
            (None, "mixed"), (7, "mixed"), (9, "mixed")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r.text, r.doc_id) for r in exact_dedup(df).collect()
    )
    assert out == [("mixed", 7), ("only-null", None)]


def test_stream_seen_filter_dedups_across_batches(spark, tmp_path):
    """Streaming J1: the first arrival of each (task, url_norm) passes;
    re-arrivals in LATER micro-batches are suppressed by the state
    store (not just within-batch distinct)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pycrawler_spark.streaming.stream import stream_seen_filter

    fdir = tmp_path / "feed"
    fdir.mkdir()
    schema = pa.schema(
        [("task_id", pa.int64()), ("url", pa.string()),
         ("url_norm", pa.string()), ("host", pa.string()),
         ("depth", pa.int32()), ("repetition", pa.int32()),
         ("seq", pa.int64()), ("from_url", pa.string())]
    )

    def rows(urls, seq0):
        return [
            {"task_id": 1, "url": u, "url_norm": u, "host": "h",
             "depth": 1, "repetition": 1, "seq": seq0 + i,
             "from_url": None}
            for i, u in enumerate(urls)
        ]

    pq.write_table(pa.Table.from_pylist(
        rows(["https://h/a", "https://h/b", "https://h/a"], 0),
        schema=schema), fdir / "f1.parquet")
    time.sleep(1.1)
    pq.write_table(pa.Table.from_pylist(
        rows(["https://h/b", "https://h/c"], 10),
        schema=schema), fdir / "f2.parquet")

    out = str(tmp_path / "deduped")
    stream_seen_filter(spark, str(fdir), out)
    got = sorted(r.url_norm for r in spark.read.parquet(out).collect())
    assert got == ["https://h/a", "https://h/b", "https://h/c"]

    # a resumed query with the same checkpoint keeps the state: a
    # third file resending everything emits only the genuinely new URL
    time.sleep(1.1)
    pq.write_table(pa.Table.from_pylist(
        rows(["https://h/a", "https://h/c", "https://h/d"], 20),
        schema=schema), fdir / "f3.parquet")
    stream_seen_filter(spark, str(fdir), out)
    got = sorted(r.url_norm for r in spark.read.parquet(out).collect())
    assert got == ["https://h/a", "https://h/b", "https://h/c",
                   "https://h/d"]


def test_range_join_long_interval_guard(spark):
    """One month-long interval must not explode onto thousands of
    buckets: auto-sizing (bucket_seconds=None) widens the bucket from
    the longest interval, and an explicit too-narrow width raises
    instead of silently skewing a task (round-4 fan-out guard)."""
    import pytest as _pytest

    from pycrawler_spark.operators.temporal import range_join

    month = 30 * 86400
    pts = spark.createDataFrame(
        [(1, 100, "u"), (2, month // 2, "u"), (3, month + 500, "u")],
        "id long, t long, user string",
    ).select("id", F.col("t").cast("timestamp").alias("ts"), "user")
    iv = spark.createDataFrame(
        [("u", 50, month), ("u", 90, 110)],
        "user string, s long, e long",
    ).select(
        "user",
        F.col("s").cast("timestamp").alias("start_ts"),
        F.col("e").cast("timestamp").alias("end_ts"),
    )
    out = range_join(pts, iv, by="user", bucket_seconds=None)
    got = sorted((r.id, int(r.start_ts.timestamp())) for r in out.collect())
    assert got == [(1, 50), (1, 90), (2, 50)]  # 3 is past both windows
    # auto width keeps the longest interval under the bucket cap even
    # when it straddles bucket boundaries (floor(span/b)+2 bound)
    auto_b = max(600, -(-month // (4096 - 2)))
    assert month // auto_b + 2 <= 4096

    with _pytest.raises(ValueError, match="bucket"):
        range_join(pts, iv, by="user", bucket_seconds=60,
                   max_buckets_per_interval=1000)
    # trusting callers can raise the cap and keep the narrow width
    ok = range_join(pts, iv, by="user", bucket_seconds=3600,
                    max_buckets_per_interval=10**6)
    assert sorted((r.id, int(r.start_ts.timestamp()))
                  for r in ok.collect()) == got


def test_asof_mega_key_single_partition(spark):
    """Skew bound pinned: ALL rows sharing one `by` key still produce
    the exact merge_asof answer (the key serializes into a single
    window task by design — documented in asof_join's docstring)."""
    import numpy as np
    import pandas as pd

    from pycrawler_spark.operators.temporal import asof_join

    rng = np.random.default_rng(11)
    lpdf = pd.DataFrame({
        "id": range(3000),
        "user": "mega",
        "t": rng.integers(0, 50_000, 3000),
    })
    rpdf = pd.DataFrame({
        "rid": range(9000, 9400),
        "user": "mega",
        "t": rng.integers(0, 50_000, 400),
    }).drop_duplicates(["user", "t"])
    left = spark.createDataFrame(lpdf).select(
        "id", "user", F.col("t").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(rpdf).select(
        "rid", "user", F.col("t").cast("timestamp").alias("ts"))
    got = {r.id: r.r_rid for r in asof_join(left, right, by="user").collect()}
    want_df = pd.merge_asof(
        lpdf.sort_values("t", kind="mergesort"),
        rpdf.sort_values("t", kind="mergesort"),
        on="t", by="user", direction="backward",
    )
    want = dict(zip(want_df["id"], want_df["rid"]))
    assert len(got) == 3000
    for k, v in want.items():
        g = got[k]
        assert (g is None and pd.isna(v)) or g == v, (k, g, v)


def test_pagerank_output_columns_and_no_driver_rank_state(spark):
    """Round-4 rework: the dangling flag is internal — the result is
    exactly (node, rank) — and a dangling-free graph still matches the
    twin (the flag column is all-false there)."""
    from pycrawler_spark.operators.graph import pagerank, pagerank_local

    edge_list = [("a", "b"), ("b", "c"), ("c", "a")]  # no dangling node
    df = spark.createDataFrame(edge_list, "src string, dst string")
    out = pagerank(df, iters=5)
    assert out.columns == ["node", "rank"]
    got = {r.node: r.rank for r in out.collect()}
    want = pagerank_local(edge_list, iters=5)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9


def test_schedule_wave_priority_mode(spark):
    """Opt-in priority scheduling: with a (url_norm, priority) table —
    e.g. PageRank ranks — the per-host budget goes to the
    highest-ranked eligible rows; unranked rows keep FIFO among
    themselves; priority=None is byte-identical to the FIFO default."""
    from pycrawler_spark.operators.scheduler import schedule_wave

    rows = [
        (1, f"https://h/{p}", f"https://h/{p}", "h", 1, i, None)
        for i, p in enumerate(["a", "b", "c", "d"])
    ]
    free = spark.createDataFrame(
        rows,
        "task_id long, url string, url_norm string, host string, "
        "depth int, seq long, from_url string",
    )
    prio = spark.createDataFrame(
        [("https://h/c", 0.9), ("https://h/d", 0.5)],
        "url_norm string, priority double",
    )
    sched = schedule_wave(free, None, 2, False, priority=prio)
    granted = sorted(r.url_norm for r in sched.collect() if r.granted)
    assert granted == ["https://h/c", "https://h/d"]

    # default: FIFO parity (insertion order, database.py:257-285)
    fifo = schedule_wave(free, None, 2, False)
    granted = sorted(r.url_norm for r in fifo.collect() if r.granted)
    assert granted == ["https://h/a", "https://h/b"]

    # ranked rows first, then unranked in seq order when budget allows
    sched3 = schedule_wave(free, None, 3, False, priority=prio)
    order = [r.url_norm for r in
             sorted(sched3.collect(), key=lambda r: r.seq) if r.granted]
    assert set(order) == {"https://h/c", "https://h/d", "https://h/a"}


def test_hash_sample_rounds_rates(spark):
    """int(round(r*1000)) not int(r*1000): 0.29 must mean bucket<290
    (truncation of the float artifact 289.9999… would drop bucket 289).
    Expected set recomputed independently with hashlib."""
    import hashlib

    from pycrawler_spark.operators.curation import hash_sample

    df = spark.createDataFrame(
        [(i, "en") for i in range(3000)], "doc_id long, lang string"
    )
    got = {r.doc_id for r in hash_sample(df, {"en": 0.29}).collect()}

    def bucket(i):
        h = hashlib.md5(f"sample:{i}".encode()).hexdigest()[:8]
        return int(h, 16) % 1000

    want = {i for i in range(3000) if bucket(i) < 290}
    assert got == want
    # the boundary per-mille is actually exercised by this corpus
    assert any(bucket(i) == 289 for i in range(3000))


def test_state_provider_param_sets_and_restores(spark):
    """apply_state_provider pins the provider conf for the query being
    started and hands back a restore; shortcuts map to the Spark
    provider classes."""
    from pycrawler_spark.streaming.stateful import (
        _PROVIDER_CONF,
        apply_state_provider,
    )

    before = spark.conf.get(_PROVIDER_CONF, None)
    restore = apply_state_provider(spark, "rocksdb")
    assert spark.conf.get(_PROVIDER_CONF).endswith(
        "RocksDBStateStoreProvider")
    restore()
    assert spark.conf.get(_PROVIDER_CONF, None) == before
    # no-op path
    assert apply_state_provider(spark, None)() is None


def test_stream_seen_filter_rocksdb_state(spark, tmp_path):
    """stream_seen_filter with state_store_provider='rocksdb' runs the
    dedup on the RocksDB state store (bundled with Spark 4) and leaves
    the session conf untouched afterwards."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pycrawler_spark.streaming.stateful import _PROVIDER_CONF
    from pycrawler_spark.streaming.stream import stream_seen_filter

    before = spark.conf.get(_PROVIDER_CONF, None)
    fdir = tmp_path / "feed"
    fdir.mkdir()
    schema = pa.schema(
        [("task_id", pa.int64()), ("url", pa.string()),
         ("url_norm", pa.string()), ("host", pa.string()),
         ("depth", pa.int32()), ("repetition", pa.int32()),
         ("seq", pa.int64()), ("from_url", pa.string())]
    )
    rows = [
        {"task_id": 1, "url": u, "url_norm": u, "host": "h",
         "depth": 1, "repetition": 1, "seq": i, "from_url": None}
        for i, u in enumerate(["https://h/a", "https://h/b", "https://h/a"])
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   fdir / "f1.parquet")
    out = str(tmp_path / "deduped")
    stream_seen_filter(spark, str(fdir), out,
                       state_store_provider="rocksdb")
    got = sorted(r.url_norm for r in spark.read.parquet(out).collect())
    assert got == ["https://h/a", "https://h/b"]
    assert spark.conf.get(_PROVIDER_CONF, None) == before


def test_pagerank_no_per_round_driver_actions(spark, monkeypatch):
    """The round-4 rework's point, pinned: the dangling mass stays a
    1-row DataFrame folded in via broadcast cross join — the loop
    never blocks the driver with `.first()` (the old shape did, once
    per iteration), and the only driver action besides the per-round
    checkpoint is the single setup `count()` of the node table."""
    # patch the CLASSIC concrete class (pyspark>=4 splits the public
    # DataFrame into an abstract front + classic/connect impls)
    from pyspark.sql.classic.dataframe import DataFrame as _DF

    from pycrawler_spark.operators.graph import pagerank

    firsts, counts = [], []
    orig_first, orig_count = _DF.first, _DF.count
    monkeypatch.setattr(_DF, "first",
                        lambda self: firsts.append(1) or orig_first(self))
    monkeypatch.setattr(_DF, "count",
                        lambda self: counts.append(1) or orig_count(self))
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
        "src string, dst string",
    )
    pagerank(df, iters=10)
    assert len(firsts) == 0, "pagerank must not .first() per round"
    assert len(counts) == 1, "exactly one setup count (N nodes)"


def test_boilerplate_single_explode_in_plan(spark):
    """q46's round-4 fix, pinned: the tokenize+k-gram+explode subtree
    (the dominant cost) appears exactly ONCE in the physical plan —
    the stats come from one aggregation + one count() window + one
    final aggregation, not from rejoining multiple aggregations of a
    recomputed (or cached) shingle table."""
    from pycrawler_spark.operators.curation import boilerplate_shingle_stats

    df = spark.createDataFrame(
        [(1, "a b c d", "h"), (2, "a b x y", "h"), (3, "a b q r", "h")],
        "doc_id long, text string, source string",
    )
    out = boilerplate_shingle_stats(df, k=2, min_docs=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 1, plan
    assert "InMemoryTableScan" not in plan  # no session-pinned cache
    # round-5 fix, pinned: exactly ONE occurrence-sized exchange.
    # shingle() emits distinct shingles per doc, so the old
    # groupBy(group, sh, id).count() always computed _occ = 1 — a
    # redundant full shuffle of the biggest intermediate — and the
    # group column now rides through the explode instead of being
    # re-joined. Plan = Generate -> Exchange(group, sh) -> Window ->
    # partial agg -> Exchange(doc_id, doc-sized) -> final agg:
    # two exchanges total, no join operator anywhere.
    assert plan.count("Exchange") == 2, plan
    assert "Join" not in plan, plan
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].n_shingles == 3 and rows[1].n_boiler == 1
    # NULL group rows never mark boilerplate (equi-join semantics)
    df2 = spark.createDataFrame(
        [(1, "a b", None), (2, "a b", None), (3, "a b", "h")],
        "doc_id long, text string, source string",
    )
    out2 = {r.doc_id: r.n_boiler
            for r in boilerplate_shingle_stats(df2, k=2, min_docs=2).collect()}
    assert out2 == {1: 0, 2: 0, 3: 0}


def test_asof_join_single_shuffle_plan(spark):
    """asof_join's headline claim plan-asserted: ONE Exchange (hash by
    the `by` key) feeds one sorted Window — no conditional join, no
    per-row subquery, no second shuffle."""
    from pycrawler_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, "u")], "id long, ts long, user string"
    ).select("id", F.col("ts").cast("timestamp").alias("ts"), "user")
    right = spark.createDataFrame(
        [(9, 8, "u")], "rid long, ts long, user string"
    ).select("rid", F.col("ts").cast("timestamp").alias("ts"), "user")
    plan = asof_join(left, right, by="user")._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "BroadcastHashJoin"):
        assert bad not in plan, bad


# --- winnowing fingerprints ---------------------------------------------------

def _py_winnow_md5(text, k=5, window=4):
    """Independent pure-Python reimplementation of the md5-twin
    winnowing (hashlib, no Spark): the test oracle for
    winnow_fingerprints(sql_twin=True)."""
    import hashlib

    toks = text.split(" ")
    n = len(toks)
    if n < k + window - 1:
        return set()
    hs = [
        int(hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()[:15], 16)
        for i in range(n - k + 1)
    ]
    return {min(hs[p:p + window]) for p in range(len(hs) - window + 1)}


def test_winnow_matches_python_reference(spark):
    from pycrawler_spark.operators.dedup import winnow_fingerprints

    rows = [
        (0, "a b c d e f g h i j k l m"),
        (1, "a b c d e f g h"),                      # exactly k+window-1 tokens
        (2, "a b c d e f g"),                        # one short -> no fingerprint
        (3, "x " * 40 + "unique tail of document three"),
        (4, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df, sql_twin=True).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    want = {i: _py_winnow_md5(t) for i, t in rows if _py_winnow_md5(t)}
    assert got == want
    assert 2 not in got  # too short to fingerprint


def test_winnow_shared_run_guarantee(spark):
    """Winnowing's core guarantee: any shared token run of length >=
    k+window-1 produces at least one shared fingerprint — under BOTH
    hash variants (the guarantee is hash-independent even though the
    selected sets are not)."""
    from pycrawler_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = k+w-1
    rows = [
        (0, "one two three " + shared + " four five six"),
        (1, "seven eight " + shared + " nine ten eleven twelve"),
        (2, "totally disjoint words with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for twin in (False, True):
        fps = {}
        for r in winnow_fingerprints(df, sql_twin=twin).collect():
            fps.setdefault(r.doc_id, set()).add(r.fp)
        assert fps[0] & fps[1], f"no shared fingerprint (sql_twin={twin})"
        assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])


def test_winnow_plan_has_no_exchange(spark, docs):
    """The scale claim, plan-asserted: winnowing is a map-only stage —
    shingle hashes, window minima, and the per-doc distinct all happen
    in array expressions inside one projection, so the executed plan
    has ZERO shuffles and no Window operator."""
    from pycrawler_spark.operators.dedup import winnow_fingerprints

    plan = (
        winnow_fingerprints(docs)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert plan.count("Exchange") == 0, plan
    assert "Window" not in plan, plan


def test_fingerprint_dup_pairs_and_max_df(spark):
    from pycrawler_spark.operators.dedup import (
        fingerprint_dup_pairs,
        winnow_fingerprints,
    )

    base = "shared prefix run of many common tokens continuing onward here"
    rows = [
        (0, base + " tail zero"),
        (1, base + " tail one"),
        (2, base + " tail two"),
        (3, "entirely different content with its own vocabulary set"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, sql_twin=True)
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in fingerprint_dup_pairs(fps, min_shared=1).collect()
    }
    assert set(pairs) == {(0, 1), (0, 2), (1, 2)}
    # boilerplate cap: every shared fp here appears in all 3 docs, so
    # max_df=2 drops them all and no pair survives
    assert fingerprint_dup_pairs(fps, min_shared=1, max_df=2).count() == 0


def test_fingerprint_pairs_single_upstream_computation(spark, docs):
    """The r5 rework's point, plan-asserted: pair generation consumes
    the fingerprint input ONCE (group ids per fp, explode pairs within
    the group). The previous self-join planned the whole upstream
    winnowing pipeline twice — one `split(` per side in the executed
    plan, no ReusedExchange."""
    from pycrawler_spark.operators.dedup import (
        fingerprint_dup_pairs,
        winnow_fingerprints,
    )

    plan = (
        fingerprint_dup_pairs(winnow_fingerprints(docs))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("split(") == 1, plan


def test_fingerprint_pairs_duplicate_input_no_self_pairs(spark):
    """r5 advisor finding, fixed r6: non-distinct (id, fp) input must
    not emit id_a == id_b self-pairs or count a duplicated row twice —
    the collected group is array_distinct'ed before pair generation."""
    from pycrawler_spark.operators.dedup import fingerprint_dup_pairs

    fps = spark.createDataFrame(
        [(1, 100), (1, 100), (2, 100), (1, 200), (2, 200)],
        "doc_id long, fp long",
    )
    rows = {(r.id_a, r.id_b): r.n_shared
            for r in fingerprint_dup_pairs(fps, min_shared=1).collect()}
    assert rows == {(1, 2): 2}, rows


def test_fingerprint_pairs_skew_sentinel_fires(spark):
    """r6 (verdict #4): with max_df unset, a fingerprint shared by more
    than max_df_hard docs raises instead of building a df-sized in-row
    array; setting max_df drops the hot group instead."""
    import pytest
    from pyspark.errors import PySparkRuntimeError
    from pyspark.sql.utils import SparkUpgradeException  # noqa: F401

    from pycrawler_spark.operators.dedup import fingerprint_dup_pairs

    hot = [(i, 7) for i in range(10)] + [(1, 8), (2, 8)]
    fps = spark.createDataFrame(hot, "doc_id long, fp long")
    with pytest.raises(Exception, match="max_df_hard"):
        fingerprint_dup_pairs(fps, min_shared=1, max_df_hard=5).collect()
    # max_df set: oversize group silently dropped, no sentinel
    rows = {(r.id_a, r.id_b): r.n_shared
            for r in fingerprint_dup_pairs(
                fps, min_shared=1, max_df=5).collect()}
    assert rows == {(1, 2): 1}, rows


def test_ngram_repetition_null_text_dropped(spark):
    """r5 advisor finding, fixed r6: NULL-text docs emit no row (the
    relational form's explode-of-NULL semantics), instead of a
    fabricated degenerate one-gram row."""
    from pycrawler_spark.operators.quality import ngram_repetition_stats

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, None)], "doc_id long, text string")
    rows = {r.doc_id for r in ngram_repetition_stats(docs).collect()}
    assert rows == {1}, rows
