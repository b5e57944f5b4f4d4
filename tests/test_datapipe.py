"""Training-data pipeline operators: text analysis, similarity search,
multimodal plumbing, dedup."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from movingspark import ingest, media, similarity, text
from tests import oracles


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat and the dog went to the market in town", "en"),
        (2, "der hund und die katze das ist gut und der rest", "de"),
        (3, "the cat and the dog went to the market in town", "en"),  # exact dup of 1
        (4, "zzz qqq", "und"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_lang_id(spark, docs):
    out = docs.select("doc_id", text.lang_id_expr(F.col("text")).alias("pred"))
    got = {r["doc_id"]: r["pred"] for r in out.collect()}
    assert got[1] == "en" and got[2] == "de" and got[4] == "und"


def test_token_counts_and_quality(spark, docs):
    out = docs.select(
        "doc_id",
        text.token_count_expr(F.col("text")).alias("n"),
        text.bpe_ish_token_count_expr(F.col("text")).alias("nb"),
        text.quality_score_expr(F.col("text")).alias("q"),
    ).collect()
    by = {r["doc_id"]: r for r in out}
    assert by[1]["n"] == 11
    assert by[1]["nb"] >= 11
    assert by[4]["q"] < by[1]["q"]


def test_fingerprint_dedup(spark, docs):
    out = (
        docs.withColumn("fp", text.fingerprint_expr(F.col("text")))
        .groupBy("fp")
        .count()
        .filter(F.col("count") > 1)
        .collect()
    )
    assert len(out) == 1 and out[0]["count"] == 2


def test_simhash_similar_docs_close(spark, docs):
    by = {r["doc_id"]: r["simhash"] for r in text.add_simhash(docs, "doc_id", "text").collect()}
    assert by[1] == by[3]  # identical text -> identical simhash
    assert by[1] != by[4]


def test_add_simhash_matches_expr(spark, docs):
    """Scale path (explode + one-hash + vote sums) must equal the
    per-row expression oracle bit-for-bit."""
    expr = {
        r["doc_id"]: r["h"]
        for r in docs.select("doc_id", oracles.simhash_expr(F.col("text")).alias("h")).collect()
    }
    scale = {
        r["doc_id"]: r["simhash"]
        for r in text.add_simhash(docs, "doc_id", "text").collect()
    }
    assert expr == scale


def test_ngram_jaccard_pairs(spark, docs):
    pairs = text.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 3)}
    assert pairs[0]["jaccard"] == 1.0


def test_ngram_jaccard_pairs_leaves_no_cache(spark, docs):
    """The pair job persists nothing: a cached shingle index that no
    caller can unpersist would leak executor storage on every call.

    Compared by RDD id, not by count: the context holds persisted RDDs
    weakly, so checkpoints that earlier tests dropped can vanish at any
    JVM GC mid-call, and a shrinking count could also hide a new one."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    text.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8).collect()
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_brute_force_topk(spark):
    rows = [(i, [float(i), 1.0]) for i in range(20)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.brute_force_topk(corpus, {0: np.array([0.0, 1.0])}, k=3)
    got = [r["vec_id"] for r in out.orderBy("rk").collect()]
    assert got[0] == 1  # most aligned with (0,1) excluding self


def test_brute_force_topk_zero_query_is_warning_free(spark):
    """A zero query vector has no direction: every sim is 0.0 (the
    corpus-side norm guard applied to the query side), never a 0/0."""
    import warnings

    rows = [(i, [float(i), 1.0]) for i in range(6)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = similarity.brute_force_topk(corpus, {99: np.zeros(2)}, k=3).collect()
    assert len(out) == 3
    assert all(r["sim"] == 0.0 for r in out)


def test_ivf_topk_recall(spark, tmp_path):
    rng = np.random.RandomState(7)
    X = rng.randn(200, 8)
    rows = [(i, X[i].tolist()) for i in range(200)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = {0: X[0], 5: X[5]}
    brute = similarity.brute_force_topk(corpus, queries, k=5)
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(corpus, path, n_centroids=8)
    ivf = similarity.ivf_topk_indexed(spark, path, queries, k=5, nprobe=4)
    b = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    i = {(r["query_id"], r["vec_id"]) for r in ivf.collect()}
    recall = len(b & i) / len(b)
    assert recall >= 0.6  # approximate path finds most true neighbors


def test_ivf_buckets_equal_the_pandas_udf(spark, tmp_path):
    """write_ivf_index's bucket per vector equals the pandas UDF's that
    built each batch's matrix row by row."""
    rng = np.random.RandomState(11)
    X = rng.randn(300, 6).astype(np.float32)
    corpus = spark.createDataFrame([(i, X[i].tolist()) for i in range(300)], "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf")
    C = similarity.write_ivf_index(corpus, path, n_centroids=8)
    got = sorted((r["vec_id"], r["bucket"]) for r in spark.read.parquet(f"{path}/corpus").collect())
    want = sorted((r["vec_id"], r["bucket"]) for r in oracles.ivf_buckets_pandas(corpus, C).collect())
    assert got == want
    assert len({b for _, b in got}) > 1


def test_embedding_near_dups(spark):
    base = np.array([1.0, 2.0, 3.0, 4.0])
    rows = [
        (1, base.tolist()),
        (2, (base * 1.001).tolist()),  # near-dup (same direction)
        (3, [4.0, -3.0, 2.0, -1.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.embedding_near_dups(corpus, threshold=0.99)
    got = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert got == {(1, 2)}


def test_embedding_near_dups_empty_corpus(spark):
    corpus = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = similarity.embedding_near_dups(corpus)
    assert out.columns == ["doc_a", "doc_b", "cosine"]
    assert out.count() == 0


def test_minhash_banded_recovers_08_jaccard(spark):
    """Planted near-dups at shingle-Jaccard ~0.8 must come out of the
    banded detector (b=8, r=2 -> expected recall 1-(1-J^2)^8 ~ 0.9998);
    unrelated docs must not pair."""
    import random

    from movingspark.text import minhash_band_pairs, ngram_jaccard_pairs

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for d in range(6):
        words = [vocab[rng.randrange(500)] for _ in range(120)]
        rows.append((f"orig{d}", " ".join(words)))
        # near-dup: perturb ~10% of words -> shingle Jaccard ~0.75-0.85
        dup = list(words)
        for _ in range(12):
            dup[rng.randrange(120)] = vocab[rng.randrange(500)]
        rows.append((f"dup{d}", " ".join(dup)))
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {(r["doc_a"], r["doc_b"]) for r in minhash_band_pairs(docs, "doc_id", "text").collect()}
    want = {tuple(sorted((f"orig{d}", f"dup{d}"))) for d in range(6)}
    assert want <= got  # every planted pair recovered
    # candidates are a small superset, not all-pairs
    assert len(got) < 6 * 11
    # exact verification agrees the planted pairs really are near-dups
    verified = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert want <= verified


def test_minhash_band_bucket_cap_linear(spark):
    """A degenerate band bucket (identical boilerplate docs) must NOT
    emit |bucket|^2/2 pairs: above max_band_bucket the bucket switches to
    a consecutive chain (linear, connectivity-preserving), while planted
    genuine near-dups outside the hot bucket are still recovered."""
    import random

    from movingspark.text import minhash_band_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    rows = [(f"boiler{i:03d}", "exact same boilerplate text repeated verbatim") for i in range(60)]
    planted = []
    for d in range(3):
        words = [vocab[rng.randrange(500)] for _ in range(120)]
        rows.append((f"orig{d}", " ".join(words)))
        dup = list(words)
        for _ in range(12):
            dup[rng.randrange(120)] = vocab[rng.randrange(500)]
        rows.append((f"dup{d}", " ".join(dup)))
        planted.append(tuple(sorted((f"orig{d}", f"dup{d}"))))
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_band_pairs(docs, "doc_id", "text", max_band_bucket=10).collect()
    }
    # planted near-dups still found
    assert set(planted) <= capped
    # the 60-doc identical bucket contributes a 59-edge chain, not 1770
    # pairs: total candidates stay linear in the bucket size
    boiler_pairs = [p for p in capped if p[0].startswith("boiler")]
    assert len(boiler_pairs) == 59
    # chain connectivity: union-find over the chain groups all 60 docs
    parent = {f"boiler{i:03d}": f"boiler{i:03d}" for i in range(60)}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in boiler_pairs:
        parent[find(a)] = find(b)
    assert len({find(f"boiler{i:03d}") for i in range(60)}) == 1
    # a cap the bucket does not reach really is quadratic on the same input
    full = minhash_band_pairs(docs, "doc_id", "text", max_band_bucket=len(rows))
    n_full_boiler = sum(
        1 for r in full.collect() if r["doc_a"].startswith("boiler")
    )
    assert n_full_boiler == 60 * 59 // 2


def test_ngram_jaccard_doc_freq_cap(spark):
    """max_doc_freq drops corpus-hot shingles from the inverted index but
    reported Jaccard stays EXACT (recomputed from full shingle sets)."""
    from itertools import combinations

    from movingspark.text import ngram_jaccard_pairs

    # 'of the and' appears in every doc (hot); docs 1/2 share real content
    rows = [
        ("d1", "alpha beta gamma delta epsilon zeta of the and"),
        ("d2", "alpha beta gamma delta epsilon eta of the and"),
        ("d3", "one two three four five six of the and"),
        ("d4", "seven eight nine ten eleven twelve of the and"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    def shingles(t):
        w = t.lower().split()
        return {" ".join(w[k : k + 3]) for k in range(max(len(w) - 3, 0) + 1)}

    exact = {}
    for (a, ta), (b, tb) in combinations(rows, 2):
        sa, sb = shingles(ta), shingles(tb)
        j = round(len(sa & sb) / len(sa | sb), 5)
        if j >= 0.2:
            exact[(a, b)] = j
    assert exact == {("d1", "d2"): 0.4}
    capped = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.2, max_doc_freq=2)
    cm = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
    assert ("d1", "d2") in cm
    assert cm[("d1", "d2")] == exact[("d1", "d2")]  # score is the exact Jaccard
    # pairs that only shared hot shingles are pruned by the cap
    assert all(p[0] in ("d1",) or "d3" not in p for p in cm)


def test_embedding_near_dups_multiband_planted(spark):
    """Multi-band LSH: planted scaled copies in a random corpus are all
    recovered (scale preserves every projection sign, so copies collide
    in every band)."""
    rng = np.random.default_rng(3)
    rows = [(int(i), rng.normal(size=16).tolist()) for i in range(60)]
    rows += [(1000 + i, (np.array(rows[i][1]) * 1.02).tolist()) for i in range(8)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.embedding_near_dups(corpus, threshold=0.999)
    got = {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    assert {(i, 1000 + i) for i in range(8)} <= got


def test_media_pipeline(spark):
    docs = ingest.synth_interleaved_docs(spark, 20)
    refs = media.media_refs_from_docs(docs)
    n_refs = refs.count()
    assert n_refs > 0
    with_bytes = media.synth_media_bytes(refs, n_bytes=32)
    feats = media.extract_image_features(with_bytes)
    rows = feats.collect()
    assert len(rows) == n_refs
    # the payloads are not images: every row is kept, with null features
    assert all(r["img_w"] is None for r in rows)
    assert all(r["n_bytes"] == 32 for r in rows)
    # deterministic: same ref -> same hash
    again = {r["media_ref"]: r["content_hash"] for r in media.extract_image_features(with_bytes).collect()}
    assert all(again[r["media_ref"]] == r["content_hash"] for r in rows)


def test_frame_sample_plan(spark):
    docs = ingest.synth_interleaved_docs(spark, 5)
    refs = media.media_refs_from_docs(docs)
    plan = media.frame_sample_plan(refs, every_n=10)
    rows = plan.collect()
    assert len(rows) >= refs.count()
    assert all(r["frame_index"] % 10 == 0 for r in rows)


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The on-disk IVF index must physically prune the scan: probing
    nprobe of n_centroids buckets touches ONLY the probed partition
    directories' files."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = [(i, (rng.randn(8) + (i % 8)).tolist()) for i in range(400)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(corpus, path, n_centroids=8)

    queries = {0: np.asarray(rows[0][1]), 5: np.asarray(rows[5][1])}
    out = similarity.ivf_topk_indexed(spark, path, queries, k=5, nprobe=2)

    # partition filter present in the plan
    import io as _io, contextlib as _ctx
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "bucket" in plan

    # the files actually touched are a strict subset: only probed dirs
    probed = spark.read.parquet(f"{path}/corpus").filter(
        F.col("bucket").isin([0, 1, 2, 3, 4, 5, 6, 7])
    )
    all_files = {r[0] for r in probed.select(F.input_file_name()).distinct().collect()}
    C = np.vstack([r["centroid"] for r in
                   sorted(spark.read.parquet(f"{path}/centroids").collect(),
                          key=lambda r: r["bucket"])])
    want_buckets = set()
    for qv in queries.values():
        d = ((C - qv) ** 2).sum(axis=1)
        want_buckets |= set(np.argsort(d)[:2].tolist())
    pruned = spark.read.parquet(f"{path}/corpus").filter(
        F.col("bucket").isin(sorted(int(b) for b in want_buckets))
    )
    touched = {r[0] for r in pruned.select(F.input_file_name()).distinct().collect()}
    assert touched < all_files  # strict subset: pruning really skipped files
    # every touched file lives under a probed bucket directory
    assert all(any(f"bucket={b}/" in f for b in want_buckets) for f in touched)


def test_winnow_fingerprints_overlap(spark):
    """Winnowing fingerprints (rolling k-gram hash + window-min): a doc
    and its lightly-edited copy share most fingerprints; an unrelated
    doc shares ~none. Also pins the short-doc fallback (global min)."""
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    edited = base.replace("lazy", "sleepy", 1)
    other = "completely different content with no overlap whatsoever here " * 4
    docs = spark.createDataFrame(
        [("a", base), ("b", edited), ("c", other), ("tiny", "abcdefghij")],
        "doc_id string, text string",
    )
    fp = text.winnow_fingerprints(docs, k=8, w=16)
    rows = fp.collect()
    sets = {}
    for r in rows:
        sets.setdefault(r["doc_id"], set()).add(r["fp"])
    jac_ab = len(sets["a"] & sets["b"]) / len(sets["a"] | sets["b"])
    jac_ac = len(sets["a"] & sets["c"]) / len(sets["a"] | sets["c"])
    assert jac_ab > 0.6        # near-dup shares most fingerprints
    assert jac_ac < 0.05       # unrelated shares ~none
    assert len(sets["tiny"]) == 1  # < w grams -> single global-min fingerprint


def test_gopher_rules(spark):
    good = "The quick brown fox jumps over the lazy dog and runs to town with great speed. " * 8
    bullets = "\n".join(f"- item {i}" for i in range(20))
    symbols = "# " * 60 + "the of and that have with be to"
    short = "too few words here"
    df = spark.createDataFrame(
        [(1, good), (2, bullets), (3, symbols), (4, short)], "doc_id long, text string"
    )
    flags = text.gopher_flags_expr(F.col("text"))
    by = {
        r["doc_id"]: r
        for r in df.select("doc_id", flags.alias("f")).select("doc_id", "f.*").collect()
    }
    assert by[1]["passes"]
    assert not by[2]["bullet_ratio_ok"]
    assert not by[3]["symbol_ratio_ok"] and not by[3]["alpha_words_ok"]
    assert not by[4]["word_count_ok"] and not by[4]["passes"]
    kept = [r["doc_id"] for r in text.gopher_filter(df).select("doc_id").collect()]
    assert kept == [1]


def test_contamination_hits_planted_overlap(spark):
    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike"
    leaked = "PREFIX words here " + bench_text + " suffix tail"
    clean = "totally different words with no overlap at all " * 3
    docs = spark.createDataFrame(
        [("t1", leaked), ("t2", clean)], "doc_id string, text string"
    )
    bench = spark.createDataFrame([("b1", bench_text)], "doc_id string, text string")
    got = {r["doc_id"]: r["n_hits"] for r in
           text.contamination_hits(docs, bench, n=13).collect()}
    assert got == {"t1": 1}  # exactly the leaked 13-gram; clean doc absent


def test_pii_counts(spark):
    df = spark.createDataFrame(
        [("p1", "mail me at a.b+c@ex-ample.org or see https://x.io/y?z=1 card 1234567890123")],
        "doc_id string, text string",
    )
    r = df.select(text.pii_counts_expr(F.col("text")).alias("p")).select("p.*").collect()[0]
    assert r["n_emails"] == 1 and r["n_urls"] == 1 and r["n_long_digit_runs"] == 1


def test_winnow_near_dup_pairs_planted(spark):
    base = ("the quick brown fox jumps over the lazy dog while seventeen "
            "green turtles watch from a mossy riverbank in early autumn light")
    docs = spark.createDataFrame(
        [("a", base + " with an extra unique closing clause here"),
         ("b", base),  # near-dup of a (long shared prefix)
         ("c", "completely unrelated content about spark physical plans "
               "and shuffle partitioning strategies at terabyte scale")],
        "doc_id string, text string",
    )
    got = {(r["doc_a"], r["doc_b"]): r["n_shared"]
           for r in text.winnow_near_dup_pairs(docs, min_shared=2).collect()}
    assert ("a", "b") in got and got[("a", "b")] >= 2
    assert not any("c" in p for p in got)


def test_verify_pairs_jaccard_guards_band_collisions(spark):
    """The CLI dedup's verification stage: LSH candidates that merely
    share a band key must NOT survive into the components stage; real
    near-dups must."""
    from movingspark.text import verify_pairs_jaccard

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            ("a", base),
            ("b", base + " ok"),  # true near-dup of a
            ("c", "completely different content about spark shuffles and joins"),
        ],
        "doc_id string, text string",
    )
    # candidate pairs as banded LSH could emit them: one real, one collision
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c")], "doc_a string, doc_b string"
    )
    kept = verify_pairs_jaccard(docs, pairs, "doc_id", "text", threshold=0.5)
    rows = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in kept.collect()}
    assert ("a", "b") in rows and rows[("a", "b")] >= 0.5
    assert ("a", "c") not in rows


def test_cli_dedup_verify_stage(spark, tmp_path):
    """End-to-end: the verification stage always runs, so a planted band
    collision does not delete a non-duplicate doc; true dups still
    dedup."""
    import json
    from movingspark.cli import main

    out = str(tmp_path / "kept")
    ck = str(tmp_path / "ck")
    rc = main([
        "dedup", "--checkpoints", ck, "--output", out, "--synth-docs", "500",
    ])
    assert rc == 0
    kept = spark.read.parquet(out)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # the synth job plants dup-<id> copies of every doc_id ending in 00:
    # exactly one of each (original, dup-) pair survives
    originals = {i for i in ids if not i.startswith("dup-")}
    for i in sorted(originals):
        assert f"dup-{i}" not in ids


def test_winnow_window_min_decomposition_bit_exact(spark):
    """The O(n) two-block prefix/suffix window-min must reproduce the
    naive per-window minimum bit-for-bit (fingerprints are exact longs,
    min of the identical value set). Expected values computed here from
    first principles with a pandas rolling min."""
    import numpy as np
    import pandas as pd

    k, w, base, mod = 8, 16, 257, 2147483647
    texts = {
        "a": "the quick brown fox jumps over the lazy dog again " * 6,
        "b": "short but >= w grams of text for one full window!!",
        "tiny": "abcdefghij",           # < w grams: global min
        "exact": "x" * (k + w - 1),     # exactly one full window
    }

    def naive(text):
        t = " ".join(text.lower().split())
        grams = [t[i:i + k] for i in range(len(t) - k + 1)]
        hs = []
        for g in grams:
            h = 0
            for ch in g:
                h = (h * base + ord(ch)) % mod
            hs.append(h)
        if len(hs) < w:
            return {min(hs)} if hs else set()
        s = pd.Series(hs)
        mins = s.rolling(w).min().dropna().astype(np.int64)
        return set(mins.tolist())

    docs = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id string, text string"
    )
    got = {}
    for r in text.winnow_fingerprints(docs, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for d, t in texts.items():
        assert got.get(d, set()) == naive(t), d


def test_decode_ppm_and_bmp_known_pixels():
    """Pure-numpy image decoders against hand-built files: P6 binary,
    P3 ascii (same pixels), and a 24-bit BMP with row padding and
    bottom-up row order."""
    import numpy as np
    from movingspark import media

    # 2x2 RGB: distinctive per-pixel values
    px = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8
    )
    p6 = b"P6\n2 2\n255\n" + px.tobytes()
    assert (media.decode_ppm(p6) == px).all()
    p3 = b"P3\n# comment\n2 2\n255\n" + " ".join(
        str(v) for v in px.flatten()
    ).encode()
    assert (media.decode_ppm(p3) == px).all()
    assert (media.decode_image(p6) == px).all()

    # 3x2 BMP: stride pads 9-byte rows to 12; rows stored bottom-up, BGR
    wpx = np.arange(3 * 2 * 3, dtype=np.uint8).reshape(2, 3, 3)
    rows = b""
    for r in range(1, -1, -1):  # bottom-up
        row = wpx[r][:, ::-1].tobytes()  # RGB -> BGR
        rows += row + b"\x00" * (12 - len(row))
    header = (
        b"BM" + (54 + len(rows)).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + (3).to_bytes(4, "little", signed=True)
        + (2).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + b"\x00" * 20
    )
    assert (media.decode_bmp(header + rows) == wpx).all()
    assert (media.decode_image(header + rows) == wpx).all()

    import pytest as _pytest
    with _pytest.raises(ValueError):
        media.decode_image(b"\x89PNG not supported")


def test_image_feature_pipeline_real_decode(spark):
    """synth PPM payloads -> mapInPandas decode -> pixel features: the
    distributed path reproduces a local decode of the same bytes."""
    import numpy as np
    from movingspark import media

    df = spark.createDataFrame(
        [("m1", 3), ("m2", 200)], "media_ref string, seed int"
    )
    out = media.extract_image_features(
        media.synth_ppm_bytes(df, "seed", w=8, h=8)
    ).collect()
    assert len(out) == 2
    for r in out:
        assert r["img_w"] == 8 and r["img_h"] == 8
        # local recompute from the same closed form
        j = np.arange(8 * 8 * 3, dtype=np.int64)
        seed = 3 if r["media_ref"] == "m1" else 200
        buf = b"P6\n8 8\n255\n" + ((seed + 7 * j) % 256).astype(np.uint8).tobytes()
        want = media.image_features(media.decode_image(buf))
        got = [r[f"f{i}"] for i in range(8)]
        assert got == want  # bit-exact: same kernel, same bytes


def test_dedup_lines_keeps_first_occurrence(spark):
    """Corpus-wide line dedup: repeated normalized lines keep only the
    min-(doc_id, pos) occurrence; blank lines always survive; null-text
    docs pass through as null; survivors are partitioning-invariant."""
    from movingspark.text import dedup_lines

    docs = spark.createDataFrame(
        [
            ("a", "unique a line\nShared   Boilerplate\nlast a"),
            ("b", "shared boilerplate\nb only\n\nb tail"),
            ("c", None),
        ],
        "doc_id string, text string",
    )
    for parts in (1, 5):
        out = {
            r["doc_id"]: r["text_deduped"]
            for r in dedup_lines(docs.repartition(parts)).collect()
        }
        assert out["a"] == "unique a line\nShared   Boilerplate\nlast a"
        # b's 'shared boilerplate' normalizes equal to a's line -> dropped
        assert out["b"] == "b only\n\nb tail"
        assert out["c"] is None


def test_chunk_documents_coverage_and_overlap(spark):
    """Chunk windows cover every token, consecutive chunks share exactly
    `overlap` tokens, and no chunk is nested in its predecessor."""
    from movingspark.text import chunk_documents

    n = 100
    docs = spark.createDataFrame(
        [("d", " ".join(f"t{i}" for i in range(n)))], "doc_id string, text string"
    )
    rows = sorted(
        chunk_documents(docs, max_tokens=32, overlap=8).collect(),
        key=lambda r: r["chunk_id"],
    )
    toks = [t for r in rows for t in r["chunk_text"].split(" ")]
    assert set(toks) == {f"t{i}" for i in range(n)}  # full coverage
    for prev, cur in zip(rows, rows[1:]):
        p = prev["chunk_text"].split(" ")
        c = cur["chunk_text"].split(" ")
        assert p[-8:] == c[:8]  # exact overlap
        assert c[-1] != p[-1]   # no nesting
    assert rows[-1]["n_tokens"] == len(rows[-1]["chunk_text"].split(" "))

    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=8, overlap=8)


def test_redact_pii_spans_rewrites_text_preserves_sequence(spark):
    """redact_pii_spans: emails/URLs/long digit runs in TEXT spans are
    replaced in place; media spans, kind, media_ref, offset, and span
    ORDER are byte-identical; the north-rule span-sequence invariant
    (explode->reassemble digest) holds on the redacted table."""
    from movingspark.ingest import span_invariant_violations
    from movingspark.text import redact_pii_spans

    docs = spark.createDataFrame(
        [
            (
                "d0",
                [
                    ("text", "mail me at a.b+c@ex-ample.co.uk now", None, 0),
                    ("media", None, "mem://media/d0/1.bin", 1),
                    ("text", "see https://x.io/p?q=1 and card 1234567890123", None, 2),
                    ("text", "short 12345678 stays", None, 3),
                ],
            )
        ],
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    out = redact_pii_spans(docs).collect()[0]["spans"]
    assert [s["kind"] for s in out] == ["text", "media", "text", "text"]
    assert [s["offset"] for s in out] == [0, 1, 2, 3]
    assert out[0]["text"] == "mail me at <EMAIL> now"
    assert out[1]["text"] is None and out[1]["media_ref"] == "mem://media/d0/1.bin"
    assert out[2]["text"] == "see <URL> and card <DIGITS>"
    assert out[3]["text"] == "short 12345678 stays"  # < 9 digits untouched

    red = redact_pii_spans(ingest_docs(spark))
    assert span_invariant_violations(red).count() == 0
    # every synthetic text payload carries a 10-digit unix time -> redacted
    leftover = red.selectExpr(
        "size(filter(spans, s -> s.kind = 'text' AND s.text NOT LIKE '%<DIGITS>%')) AS n"
    ).agg({"n": "sum"}).collect()[0][0]
    assert leftover == 0


def ingest_docs(spark):
    from movingspark.ingest import synth_interleaved_docs

    return synth_interleaved_docs(spark, 200)


def test_quantize_int8_roundtrip_and_saturation(spark):
    import numpy as np

    from movingspark.similarity import quantize_int8

    vecs = [
        (0, [0.5, -1.0, 0.25, 1.27]),     # amax 1.27 -> scale 0.01
        (1, [0.0, 0.0, 0.0, 0.0]),        # zero vector -> scale 1.0, all codes 0
        (2, [127.0, -127.0, 63.5, 0.0]),  # amax 127 -> scale 1.0, saturated ends
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in quantize_int8(df).collect()}

    r0 = got[0]
    assert r0["scale"] == pytest.approx(1.27 / 127.0)
    # codes: 50, -100, 25, 127 (floor(x/scale + .5))
    assert r0["checksum"] == 50 - 100 + 25 + 127
    assert r0["n_saturated"] == 1
    expect_err = float(np.sqrt(sum((v - c * (1.27 / 127.0)) ** 2 for v, c in zip(vecs[0][1], [50, -100, 25, 127]))))
    assert r0["l2_err"] == pytest.approx(expect_err, abs=1e-5)

    assert got[1]["scale"] == 1.0 and got[1]["checksum"] == 0 and got[1]["l2_err"] == 0.0
    assert got[2]["n_saturated"] == 2 and got[2]["checksum"] == 127 - 127 + 64


def test_quantize_int8_no_python_no_shuffle(spark):
    from movingspark.similarity import quantize_int8

    df = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id long, embedding array<double>")
    plan = quantize_int8(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan


def test_frequent_tokens_topk_and_tiebreak(spark):
    from movingspark.text import frequent_tokens

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "Banana cherry"),
            (2, "apple   cherry cherry"),
        ],
        "doc_id long, text string",
    )
    rows = frequent_tokens(docs, k=2).collect()
    got = [(r["token"], r["n_occurrences"], r["n_docs"]) for r in rows]
    # apple and cherry both have 3 occurrences; 'apple' < 'cherry' wins
    # the order, banana (2) falls outside k=2.
    assert got == [("apple", 3, 2), ("cherry", 3, 2)]


def test_frequent_tokens_topk_plan_is_partial(spark):
    from movingspark.text import frequent_tokens

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    plan = frequent_tokens(docs, 5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_ann_quantized_recall_vs_exact(spark):
    """Quantized-code cosine ranking should agree closely with exact
    cosine ranking on well-conditioned vectors: recall@5 >= 4/5 per
    query on the synthetic embeddings."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    exact = {}
    for r in E.q_ann_topk_scale(spark, sf).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    quant = {}
    for r in E.q_ann_quantized(spark, sf).collect():
        quant.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(exact) == set(quant) and len(exact) == 3
    for q in exact:
        assert len(exact[q] & quant[q]) >= 4, (q, exact[q], quant[q])
