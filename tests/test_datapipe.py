"""Training-data pipeline operator tests: dedup family, similarity search,
text analysis, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tesseract_wasm_spark.datapipe import dedup, similarity, textstats
from tesseract_wasm_spark.datapipe.multimodal import media_metadata, thumbnails

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
    (4, "completely different content about spark pipelines and arrow batches"),
    (5, "Unrelated short text"),
    (6, "THE QUICK BROWN FOX jumps over the lazy dog near the river bank today"),  # case dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").withColumn(
        "source", F.lit("s1")
    )


def test_exact_dedup(spark, docs):
    rows = {r["keep_id"]: r["n_dups"] for r in dedup.exact_duplicates(docs).collect()}
    assert rows[1] == 3  # docs 1, 2, 6 normalize to the same content
    assert rows[3] == 1 and rows[4] == 1 and rows[5] == 1


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, block_col="source").collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 6)] == 1.0  # lowercased shingles
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_finds_near_dups(spark, docs):
    found = {
        (r["doc_a"], r["doc_b"]) for r in
        dedup.minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    assert {(1, 2), (1, 6), (2, 6)} <= found
    assert (1, 3) in found  # near dup passes the 0.5 exact-jaccard verify
    assert (1, 4) not in found


def test_minhash_banded_buckets_and_exact_verify(spark, docs):
    """Identical documents (1, 2 and 6 after lowercasing) land in the same
    bucket in all 16 bands, and the verified LSH output equals the unblocked
    exact pair set: every qualifying pair here has jaccard >= 0.8, where a
    pair misses all 16 width-4 bands with probability (1 - 0.8^4)^16 < 2e-5."""
    buckets = {}
    for r in dedup.minhash_banded(docs, bands=16).collect():
        buckets.setdefault(r["doc_id"], {})[r["band_id"]] = r["bucket"]
    assert len(buckets[1]) == 16
    assert buckets[1] == buckets[2] == buckets[6]
    assert buckets[1] != buckets[4]

    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_near_duplicates(docs, bands=16, threshold=0.5).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, block_col="source").collect()
    }
    assert len(exact) >= 4
    assert lsh == exact


def test_simhash_near_dups(spark, docs):
    found = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_duplicates(docs, max_hamming=6).collect()
    }
    assert found[(1, 2)] == 0
    assert found[(1, 6)] == 0  # case-insensitive tokens
    assert found.get((1, 3), 99) <= 6
    assert (1, 4) not in found


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(5)
    base = rng.normal(size=(4, 16))
    rows = []
    vid = 0
    for label in range(4):
        for _ in range(12):
            v = base[label] + rng.normal(scale=0.4, size=16)
            rows.append((vid, [float(x) for x in v], label))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk_matches_numpy(spark, embeddings):
    got = similarity.brute_force_topk(embeddings, [0, 1], k=3).collect()
    rows = embeddings.orderBy("vec_id").collect()
    mat = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    for qid in (0, 1):
        sims = mat @ mat[qid] / (norms * norms[qid])
        sims[qid] = -np.inf
        order = sorted(range(len(sims)), key=lambda i: (-round(sims[i], 4), i))[:3]
        mine = sorted(
            [(r["neighbor_id"], r["rank"]) for r in got if r["query_id"] == qid],
            key=lambda t: t[1],
        )
        assert [t[0] for t in mine] == order


def test_ivf_recall_reasonable(spark, embeddings):
    """IVF with nprobe=2 of 4 cells must recover most of the exact top-3
    (clustered data -> near-perfect recall)."""
    exact = similarity.brute_force_topk(embeddings, [0, 5, 13], k=3).collect()
    approx = similarity.ivf_topk(embeddings, [0, 5, 13], k=3, n_cells=4, nprobe=2).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 2 / 3


def test_cosine_pairs_blocked(spark, embeddings):
    pairs = similarity.cosine_pairs_blocked(embeddings, threshold=0.5).collect()
    assert len(pairs) > 0
    labels = {r["label"]: None for r in embeddings.collect()}
    assert all(r["cosine"] >= 0.5 for r in pairs)


def test_language_id(spark):
    rows = [
        (1, "the cat and the dog went to the park for the day", "en"),
        (2, "der hund und die katze sind nicht mit der maus", "de"),
        (3, "le chat et la souris sont dans la maison pour le jour", "fr"),
        (4, "el perro y los gatos son una familia del barrio para siempre", "es"),
        (5, "xyzzy qwerty zzz", "und"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows], "doc_id long, text string").withColumn(
        "lang", F.lit("?")
    )
    got = {r["doc_id"]: r["pred_lang"] for r in textstats.language_id(df).collect()}
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world! 42 times"), (2, "one-two three")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["ws_tokens"], r["bpe_tokens"]) for r in textstats.token_counts(df).collect()}
    assert got[1] == (4, 6)  # ws: Hello,|world!|42|times; bpe: Hello , world ! 42 times
    assert got[2] == (2, 4)  # one - two three


def test_quality_and_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog are in the house with the mouse"),
         (2, "!!! ??? ... ###")],
        "doc_id long, text string",
    )
    q = {r["doc_id"]: r["quality"] for r in textstats.quality_score(df).collect()}
    assert q[1] > q[2]
    fp = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprints(df).collect()}
    assert len(fp[1]) == 32 and fp[1] != fp[2]
    df2 = spark.createDataFrame([(3, "THE  cat And the DOG are in the house with the mouse")],
                                "doc_id long, text string")
    fp2 = textstats.fingerprints(df2).collect()[0]["fingerprint"]
    assert fp2 == fp[1]  # normalization: case + whitespace


def test_media_metadata_and_thumbnails(spark):
    from tesseract_wasm_spark.fixtures import fixtures_df

    pages = fixtures_df(spark, n_corpus_pages=2)
    meta = {r["url"].rsplit("/", 1)[-1]: r for r in media_metadata(pages).collect()}
    assert meta["small-page"]["format"] == "drf"
    assert meta["small-page"]["channels"] == 1  # corpus pages are gray DRF
    assert meta["empty-100x100"]["channels"] == 4  # RGBA path still exercised
    assert meta["bad-buffer"]["decode_error"] == "Image data length does not match width/height"
    th = thumbnails(pages, max_side=32).collect()
    assert all(r["thumb_w"] <= 32 and r["thumb_h"] <= 32 for r in th)
    # non-decodable payloads skipped (2 bad + 2 html + 5 pdf + 2 img)
    assert len(th) == pages.count() - 11


def test_srp_lsh_pairs(spark, embeddings):
    from tesseract_wasm_spark.datapipe.similarity import srp_near_pairs, cosine_pairs_blocked

    srp = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in srp_near_pairs(embeddings, n_bits=6, threshold=0.5).collect()
    }
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in cosine_pairs_blocked(embeddings, threshold=0.5).collect()
    }
    assert len(srp) > 0
    # LSH candidates that pass the cosine verify must carry the exact cosine
    for pair, cos in srp.items():
        if pair in exact:
            assert cos == exact[pair]
    # with clustered data and few bits, recall over same-label pairs is high
    recall = len(set(srp) & set(exact)) / max(1, len(exact))
    assert recall > 0.3


def test_srp_near_pairs_are_blocked_pairs_over_srp_buckets(spark, embeddings):
    """srp_near_pairs is cosine_pairs_blocked with the SRP bucket as the
    block: the same pairs and cosines."""
    from tesseract_wasm_spark.datapipe.similarity import (
        cosine_pairs_blocked, srp_near_pairs, srp_signatures,
    )

    sigs = srp_signatures(embeddings, n_bits=10)
    blocked = cosine_pairs_blocked(
        embeddings.join(sigs, "vec_id"), threshold=0.2, block_col="bucket"
    )
    got = srp_near_pairs(embeddings, n_bits=10, threshold=0.2)
    assert sorted(got.collect()) == sorted(blocked.collect())
    assert got.count() > 0


def test_srp_signatures_are_one_table_of_multi_signatures(spark, embeddings):
    """One SRP kernel: srp_signatures' bucket is the first (and only) table
    of srp_multi_signatures at the same bits and seed."""
    from tesseract_wasm_spark.datapipe.similarity import (
        srp_multi_signatures, srp_signatures,
    )

    single = {
        r["vec_id"]: r["bucket"]
        for r in srp_signatures(embeddings, n_bits=10, seed=9).collect()
    }
    multi = {
        r["vec_id"]: r["buckets"][0]
        for r in srp_multi_signatures(embeddings, n_bits=10, n_tables=1, seed=9).collect()
    }
    assert single == multi
    assert len(set(single.values())) > 1


def test_srp_blocked_pairs_equal_exact_kernel(spark, embeddings):
    """The tiled verify path must return EXACTLY the pairs and cosines of
    the quadratic-within-label kernel."""
    from tesseract_wasm_spark.datapipe.similarity import (
        cosine_pairs_blocked,
        cosine_pairs_tiled,
    )

    for thr in (0.25, 0.5):
        tiled = {
            (r["vec_a"], r["vec_b"]): r["cosine"]
            for r in cosine_pairs_tiled(embeddings, threshold=thr).collect()
        }
        exact = {
            (r["vec_a"], r["vec_b"]): r["cosine"]
            for r in cosine_pairs_blocked(embeddings, threshold=thr).collect()
        }
        assert tiled == exact


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def _task_keys(df):
    """For every Window and grouped-map pandas operator of df's executed
    plan that sees the embeddings: the columns its input rows are
    hash-partitioned by, i.e. what one task's rows have in common."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.finalPhysicalPlan()
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        if node.nodeName() in ("Window", "FlatMapGroupsInPandas") and "embedding" in {
            a.name() for a in _seq(node.child().output())
        }:
            keys = node.child().outputPartitioning().expressions()
            out.append((node.nodeName(), {e.toString().split("#")[0] for e in _seq(keys)}))
        if node.nodeName().endswith("QueryStage"):
            todo.append(node.plan())
        todo.extend(_seq(node.children()))
    return out


def test_exact_tiles_bound_groups(spark, monkeypatch):
    """One label of more than 2T vectors, with sparse ids: with the tile
    constant lowered (tile ids are JVM expressions built on the driver),
    tile k of a block holds exactly its ids of rank kT..kT+T-1, no
    (block, tile_a, tile_b) group holds more than 2T rows, the pairs and
    cosines equal cosine_pairs_blocked's, and no task that ranks or
    verifies embeddings is handed its rows by the block alone (so no task
    has to hold a whole block)."""
    tile = 7
    monkeypatch.setattr(similarity, "EXACT_TILE", tile)
    rng = np.random.default_rng(11)
    base = rng.normal(size=16)
    rows = [(int(v) * 3 + int(v) % 2,
             [float(x) for x in base + rng.normal(scale=0.8, size=16)],
             0 if v < 40 else 1)
            for v in rng.permutation(46)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    tiled = similarity._tile_pairs(emb)
    tiles = {(r["label"], r["vec_id"]): r["_tile"]
             for r in tiled.select("label", "vec_id", "_tile").distinct().collect()}
    for label in (0, 1):
        ids = sorted(v for lab, v in tiles if lab == label)
        assert [tiles[(label, v)] for v in ids] == [k // tile for k in range(len(ids))]
    groups = tiled.groupBy("label", "_ta", "_tb").count()
    sizes = {(r["label"], r["_ta"], r["_tb"]): r["count"] for r in groups.collect()}
    n_tiles = -(-40 // tile)
    assert len([k for k in sizes if k[0] == 0]) == n_tiles * (n_tiles + 1) // 2
    assert max(sizes.values()) <= 2 * tile

    for thr in (0.25, 0.5):
        pairs = similarity.cosine_pairs_tiled(emb, threshold=thr)
        got = sorted(tuple(r) for r in pairs.collect())
        want = sorted(tuple(r) for r in similarity.cosine_pairs_blocked(
            emb, threshold=thr).collect())
        assert got == want and want
        keys = _task_keys(pairs)
        assert {name for name, _ in keys} == {"Window", "FlatMapGroupsInPandas"}
        assert all(len(k) > 1 and "label" in k for _, k in keys), keys


def test_zero_vector_cosine_contract(spark, embeddings):
    """A zero-norm vector has no cosine (0/0). Pinned contract: the tiled
    verify kernel emits no pair with it although it shares a tile group
    with its label, brute-force top-k gives it a NULL cosine that ranks
    last (and a zero query ranks its neighbors by id), and every other
    pair and top-k row is what it is without it."""
    zero_id = 1000
    with_zero = embeddings.unionByName(spark.createDataFrame(
        [(zero_id, [0.0] * 16, 0)], "vec_id long, embedding array<float>, label int"
    ))
    keys = ["label", "_ta", "_tb"]
    tiled = similarity._tile_pairs(with_zero)
    zero_groups = tiled.filter(F.col("vec_id") == zero_id).select(*keys)
    shared = tiled.filter(F.col("vec_id") != zero_id).join(zero_groups, keys)
    assert shared.count() > 0  # the zero vector really is verified against others

    for thr in (0.25, 0.5):
        got = sorted(tuple(r) for r in similarity.cosine_pairs_tiled(
            with_zero, threshold=thr).collect())
        base = sorted(tuple(r) for r in similarity.cosine_pairs_tiled(
            embeddings, threshold=thr).collect())
        assert got == base and base
        assert all(zero_id not in (a, b) for a, b, _ in got)

    n = embeddings.count()
    top = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
           for r in similarity.brute_force_topk(with_zero, [0, 1, zero_id], k=n).collect()}
    base = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
            for r in similarity.brute_force_topk(embeddings, [0, 1], k=n).collect()}
    for q in (0, 1):
        assert [top[(q, k)] for k in range(1, n)] == [base[(q, k)] for k in range(1, n)]
        assert top[(q, n)] == (zero_id, None)
    assert [top[(zero_id, k)] for k in range(1, n + 1)] == [(i, None) for i in range(n)]


def test_srp_blocked_pairs_on_corpus_embeddings(spark):
    """Driver-gate parity on the real testdata table: the tiled path and
    the exact kernel agree at the driver's threshold."""
    from tesseract_wasm_spark.datapipe.similarity import (
        cosine_pairs_blocked,
        cosine_pairs_tiled,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    tiled = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in cosine_pairs_tiled(emb, threshold=0.25).collect()
    }
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in cosine_pairs_blocked(emb, threshold=0.25).collect()
    }
    assert len(exact) > 100
    assert tiled == exact


def test_bucket_stats_observability(spark, docs):
    banded = dedup.minhash_banded(docs)
    stats = {r["bucket_size"]: r for r in
             dedup.bucket_stats(banded, ["band_id", "bucket"]).collect()}
    # the exact-dup cluster (docs 1,2,6) shares every band bucket
    assert 3 in stats
    assert stats[3]["candidate_pairs"] == 3 * stats[3]["n_buckets"]
    total_rows = sum(s["bucket_size"] * s["n_buckets"] for s in stats.values())
    assert total_rows == banded.count()


def test_duplicate_clusters(spark, docs):
    """Connected components over near-dup pairs: keeper = component min;
    a CHAIN (a-b, b-c with no a-c pair) must still merge into one cluster
    (requires >1 propagation iteration); singletons keep themselves."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 6), (1, 3)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: (r["cluster_id"], r["is_keeper"]) for r in
           dedup.duplicate_clusters(pairs, docs).collect()}
    assert out[1] == (1, True)
    assert out[2] == (1, False) and out[6] == (1, False) and out[3] == (1, False)
    assert out[4] == (4, True) and out[5] == (5, True)
    # chain that needs two propagation rounds: 10-20, 20-30 (min label 10
    # must reach 30 through 20)
    chain_docs = spark.createDataFrame(
        [(10, "x", "s"), (20, "y", "s"), (30, "z", "s")],
        "doc_id long, text string, source string",
    )
    chain_pairs = spark.createDataFrame([(20, 30), (10, 20)], "doc_a long, doc_b long")
    ch = {r["doc_id"]: r["cluster_id"] for r in
          dedup.duplicate_clusters(chain_pairs, chain_docs).collect()}
    assert ch == {10: 10, 20: 10, 30: 10}


def test_duplicate_clusters_long_chain_pointer_jumping(spark):
    """r06: pointer jumping makes convergence O(log diameter) — a 1000-hop
    chain must fully resolve to the min label well under the default
    max_iters=20 bound (plain propagation would need 1000 rounds and
    truncate); max_iters=12 pins the doubling behavior."""
    n = 1000
    chain_docs = spark.createDataFrame(
        [(i, "t", "s") for i in range(n)], "doc_id long, text string, source string"
    )
    chain_pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = dedup.duplicate_clusters(chain_pairs, chain_docs, max_iters=12)
    labels = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert set(labels.values()) == {0}
    assert labels[n - 1] == 0


def test_sample_hash_deterministic(spark, docs):
    """md5-digit sampling is stable across runs and partitionings."""
    import hashlib

    from tesseract_wasm_spark.queries import sample_hash

    got = sorted(r["doc_id"] for r in sample_hash(spark, "/root/testdata/sf0.001").collect())
    got2 = sorted(r["doc_id"] for r in sample_hash(spark, "/root/testdata/sf0.001").collect())
    assert got == got2 and len(got) > 0
    for d in got[:10]:
        assert hashlib.md5(str(d).encode()).hexdigest()[0] in "01"


def test_degenerate_bucket_cap(spark, docs):
    """The 100 TB LSH OOM guard: a band value shared by a huge slice of the
    corpus (planted here as many empty documents, which hash identically in
    every band) is dropped by the default max_bucket cap instead of expanding
    quadratically inside one task — and the drop is observable, not silent."""
    from pyspark.sql import Observation

    empties = spark.createDataFrame(
        [(100 + i, "", "planted") for i in range(20)],
        "doc_id long, text string, source string",
    )
    planted = docs.unionByName(empties)
    obs = Observation()
    found = {
        (r["doc_a"], r["doc_b"]) for r in
        dedup.minhash_near_duplicates(planted, threshold=0.5,
                                      max_bucket=8, dropped=obs).collect()
    }
    # the genuine near-dup cluster survives; no empty-doc pair was expanded
    assert {(1, 2), (1, 6), (2, 6)} <= found
    assert not any(a >= 100 or b >= 100 for a, b in found)
    assert obs.get["dropped_buckets"] >= 1  # the 20-empty-doc band buckets
    assert obs.get["max_bucket_size"] >= 20
    # with the cap disabled the degenerate bucket IS expanded quadratically —
    # the O(B^2)-inside-one-task failure mode the default guards against
    cands = dedup.bucket_pairs(
        dedup.minhash_banded(planted), ["band_id", "bucket"], max_bucket=None
    )
    assert cands.filter("doc_a >= 100 and doc_b >= 100").count() == 20 * 19 // 2
    # simhash path honors the same cap + observation contract
    obs2 = Observation()
    sim = {
        (r["doc_a"], r["doc_b"]) for r in
        dedup.simhash_near_duplicates(planted, max_hamming=6,
                                      max_bucket=8, dropped=obs2).collect()
    }
    assert not any(a >= 100 or b >= 100 for a, b in sim)
    assert obs2.get["dropped_buckets"] >= 1


def test_lsh_bucket_stage_is_one_core():
    """Every LSH path shares one bucket stage: in dedup.py the pair expansion
    ``_pairs_in_bucket`` is called from exactly one place, and exactly one
    ``observe(...)`` call names its metric ``lsh_capped_buckets_N`` (calls
    counted in the AST, not in comments or docstrings)."""
    import ast
    from pathlib import Path

    tree = ast.parse(Path(dedup.__file__).read_text())
    calls = [n for n in ast.walk(tree) if isinstance(n, ast.Call)]
    pair_calls = [
        c for c in calls
        if isinstance(c.func, ast.Name) and c.func.id == "_pairs_in_bucket"
    ]
    capped_observes = [
        c for c in calls
        if isinstance(c.func, ast.Attribute) and c.func.attr == "observe"
        and c.args and isinstance(c.args[0], ast.JoinedStr)
        and any(isinstance(v, ast.Constant) and "lsh_capped_buckets_" in str(v.value)
                for v in c.args[0].values)
    ]
    assert len(pair_calls) == 1
    assert len(capped_observes) == 1


def test_rolling_fingerprint(spark):
    from tesseract_wasm_spark.datapipe.textstats import (
        ROLL_BASE, ROLL_PRIME, rolling_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abc"), (3, "abd"), (4, "ABC  "), (5, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["rolling_fp"] for r in rolling_fingerprints(df).collect()}
    # reference value computed directly: polynomial hash of normalized text
    def ref(s):
        h = 0
        for ch in s.encode():
            h = (h * ROLL_BASE + ch) % ROLL_PRIME
        return h
    assert got[1] == ref("abc") and got[2] == got[1]
    assert got[3] != got[1]
    assert got[4] == ref("abc ")  # lowercased, whitespace collapsed
    assert got[5] == 0


def test_redact_pii(spark):
    out = textstats.redact_pii(spark.createDataFrame(
        [(1, "mail me at jo.smith+x@corp.example.org or call +1 (555) 123-4567, "
             "server 192.168.10.12 stays internal"),
         (2, "no pii here at all")],
        "doc_id long, text string",
    )).collect()
    r = {row["doc_id"]: row for row in out}
    assert "<EMAIL>" in r[1]["clean_text"] and "<PHONE>" in r[1]["clean_text"]
    assert "<IP>" in r[1]["clean_text"]
    assert "jo.smith" not in r[1]["clean_text"] and "192.168" not in r[1]["clean_text"]
    assert (r[1]["n_emails"], r[1]["n_ips"], r[1]["n_phones"]) == (1, 1, 1)
    assert r[2]["clean_text"] == "no pii here at all"
    assert (r[2]["n_emails"], r[2]["n_ips"], r[2]["n_phones"]) == (0, 0, 0)


def test_contamination_flags(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),          # benchmark doc
        (1, "unrelated words entirely different content here"),
        (2, "prefix alpha beta gamma delta epsilon suffix"),  # shares a 5-gram
        (3, "alpha beta gamma different tail words"),         # only a 3-gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_hits"], r["contaminated"]) for r in
           textstats.contamination_flags(df, [0], n=5).collect()}
    assert got[0][1] is True          # the benchmark doc flags itself
    assert got[1] == (0, False)
    assert got[2][0] >= 1 and got[2][1] is True
    assert got[3] == (0, False)       # sub-n overlap does not flag


def test_line_dedup(spark):
    """C4/MassiveText-style line-level dedup: repeated lines survive only at
    their globally first (doc, pos) occurrence; documents reassemble in
    order, possibly to empty."""
    docs = spark.createDataFrame(
        [
            (1, "unique alpha\nshared footer line\npromo line"),
            (2, "unique beta\nshared footer line"),
            (3, "shared footer line\npromo line"),  # nothing unique survives
            (4, "promo line\nunique delta"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.line_dedup(docs).collect()}
    assert out[1]["text"] == "unique alpha\nshared footer line\npromo line"
    assert out[2]["text"] == "unique beta"
    assert out[3]["text"] == ""
    assert out[4]["text"] == "unique delta"
    assert [(out[i]["n_lines"], out[i]["n_kept"]) for i in (1, 2, 3, 4)] == [
        (3, 3), (2, 1), (2, 0), (2, 1)
    ]


def test_repetition_stats(spark):
    """Gopher-style repetition flags: a keyword-stuffed doc flags, normal
    prose does not; edge cases (single word, no newlines) stay total."""
    docs = spark.createDataFrame(
        [
            (1, "buy cheap pills buy cheap pills buy cheap pills buy cheap pills"),
            (2, "the quick brown fox jumps over one lazy dog near a quiet river"),
            (3, "word"),
            (4, "same line\nsame line\nsame line\nunique line"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textstats.repetition_stats(docs).collect()}
    assert got[1]["repetitive"] and got[1]["dup_2gram_frac"] > 0.7
    assert not got[2]["repetitive"] and got[2]["dup_3gram_frac"] == 0.0
    assert got[3]["dup_2gram_frac"] == 0.0 and not got[3]["repetitive"]
    assert got[4]["dup_line_frac"] == 0.5 and got[4]["repetitive"]


def test_gopher_rules(spark):
    """Each Gopher rule fires on its designed failure shape; healthy prose
    passes every rule."""
    healthy = " ".join(
        ["the quick brown fox jumps over a lazy dog near the river"] * 6
    )
    docs = spark.createDataFrame(
        [
            (1, healthy),
            (2, "too short"),
            (3, " ".join(["9999999999999"] * 60)),            # long non-alpha words
            (4, " ".join(["see ### more ###"] * 20)),          # symbol soup
            (5, "\n".join(["- bullet item one two three"] * 10)),
            (6, "\n".join(["trailing thought..."] * 10) + "\nplain"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textstats.gopher_rules(docs).collect()}
    assert got[1]["keep"]
    assert not got[2]["keep"] and got[2]["n_words"] == 2
    assert not got[3]["keep"] and got[3]["alpha_word_frac"] == 0.0
    assert not got[4]["keep"] and got[4]["symbol_ratio"] > 0.1
    assert not got[5]["keep"] and got[5]["bullet_line_frac"] == 1.0
    assert not got[6]["keep"] and got[6]["ellipsis_line_frac"] > 0.3


def test_cluster_keepers_policy(spark, docs):
    """Keeper policy: newest (max order) wins per cluster; ties go to the
    smallest id; singleton clusters keep themselves."""
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, block_col="source")
    clusters = dedup.duplicate_clusters(pairs, docs)
    meta = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (5, 5), (6, 20)],
        "doc_id long, crawl_rank long",
    )
    got = {r["doc_id"]: r for r in
           dedup.cluster_keepers(clusters, meta, order_col="crawl_rank").collect()}
    # cluster {1,2,3,6}: ranks 10,30,30,20 -> 2 wins (tie 2 vs 3 -> min id)
    assert got[2]["is_keeper"] and not got[3]["is_keeper"]
    assert not got[1]["is_keeper"] and not got[6]["is_keeper"]
    assert got[4]["is_keeper"] and got[5]["is_keeper"]  # singletons


def test_sentences_and_mojibake(spark):
    docs = spark.createDataFrame(
        [(1, "First sentence. Second one! Third?  Fourth with trailing."),
         (2, "no terminators at all"),
         (3, "clean text"), (4, "bro�ken te\x07xt")],
        "doc_id long, text string",
    )
    sents = [
        (r["sent_pos"], r["sentence"]) for r in
        textstats.sentences(docs).filter("doc_id = 1").orderBy("sent_pos").collect()
    ]
    assert sents == [(0, "First sentence"), (1, "Second one"), (2, "Third"),
                     (3, "Fourth with trailing.")]
    assert textstats.sentences(docs).filter("doc_id = 2").count() == 1
    moj = {r["doc_id"]: r for r in textstats.mojibake_stats(docs).collect()}
    assert moj[3]["clean"] and moj[3]["bad_char_frac"] == 0.0
    assert not moj[4]["clean"]
    assert moj[4]["n_replacement"] == 1 and moj[4]["n_control"] == 1


def test_corpus_filter_report(spark):
    """Composed cleanup preset: the reason is the FIRST failing stage in
    order, clean_corpus keeps exactly the 'kept' rows."""
    from tesseract_wasm_spark.datapipe.presets import (
        clean_corpus,
        corpus_filter_report,
    )

    good = ("the quick brown fox jumps over a lazy dog by the river while "
            "seven wizards brew black quartz potions and judge my vow of "
            "sphinx like silence under an old oak near the stone bridge at "
            "dawn with cold wind rising from the valley floor")
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, good),                                   # exact dup of 1
            (3, "bro�ken " * 8),                         # mojibake (and rep)
            (4, "short doc"),                            # gopher word band
            (5, " ".join(["spam spam"] * 40)),           # repetition
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["reason"] for r in
           corpus_filter_report(docs, min_words=20).collect()}
    assert got == {1: "kept", 2: "duplicate", 3: "mojibake",
                   4: "gopher", 5: "repetition"}
    kept = clean_corpus(docs, min_words=20).collect()
    assert [r["doc_id"] for r in kept] == [1] and kept[0]["text"] == good


def test_url_quality_rules(spark):
    """URL screening: every rule fires on its planted branch and the keep
    verdict composes them; a port or query string alone never drops."""
    from tesseract_wasm_spark.datapipe import urlfilter

    rows = [
        (1, "https://www.good.example.com/articles/post-1"),
        (2, "https://ads.example/banner/2"),
        (3, "https://cdn.tracker.example/pix/3"),
        (4, "http://10.0.0.7/index/4"),
        (5, "https://img.example.com/a/photo.JPG"),
        (6, "https://deep.example.com/a/b/c/d/e/f/g/h/i/j/6"),
        (7, "https://shop.example.com:8443/item?id=7"),
        (8, "https://no-path.example.org"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r for r in urlfilter.url_quality(docs).collect()}
    assert got[1]["keep"] and got[1]["host"] == "www.good.example.com"
    assert got[1]["tld"] == "com" and got[1]["path_depth"] == 2
    assert got[2]["blocked_domain"] and not got[2]["keep"]  # exact domain
    assert got[3]["blocked_domain"] and not got[3]["keep"]  # subdomain
    assert got[4]["is_ip_host"] and not got[4]["keep"]
    assert got[5]["bad_ext"] and not got[5]["keep"]  # case-insensitive ext
    assert got[6]["too_deep"] and got[6]["path_depth"] == 11 and not got[6]["keep"]
    assert got[7]["has_port"] and got[7]["keep"]  # port+query: still keep
    assert got[8]["keep"] and got[8]["path_depth"] == 0  # no path at all


def test_unigram_logprob_ranks_gibberish(spark):
    """The corpus-unigram LM proxy: a document of corpus-common tokens
    scores LOWER (more probable) than a document of singleton gibberish —
    the ordering CCNet's perplexity filter cuts on."""
    from tesseract_wasm_spark.datapipe import textstats

    common = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, common), (2, common), (3, common),
         (4, "zxqv kjhg wqpo mnbv plkj qwer")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textstats.unigram_logprob(docs).collect()}
    assert got[4]["nll_bits"] > got[1]["nll_bits"]
    assert got[1]["nll_bits"] == got[2]["nll_bits"]  # identical docs tie
    assert got[1]["n_tokens"] == 9


def test_unigram_logprob_persisted_vocab(spark, tmp_path):
    """A (token, cnt) vocabulary of the same docs, written to parquet and
    passed back as ``vocab``, scores every document as the self-contained
    call does."""
    from tesseract_wasm_spark.datapipe import textstats

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "The  dog sleeps; the fox runs"),
         (3, "zxqv kjhg wqpo mnbv plkj qwer"), (4, "")],
        "doc_id long, text string",
    )
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), textstats.WS_RE)).alias("token")
    ).filter(F.col("token") != "")
    path = str(tmp_path / "vocab")
    toks.groupBy("token").agg(F.count("*").alias("cnt")).write.parquet(path)

    persisted = textstats.unigram_logprob(docs, vocab=spark.read.parquet(path))
    assert sorted(persisted.collect()) == sorted(textstats.unigram_logprob(docs).collect())
    assert persisted.count() == 3


def test_pack_sequences_manifest(spark):
    """Concat-and-chunk packing: per-shard running offsets, boundary
    crossings continue into the next sequence, shards never share
    sequences."""
    from tesseract_wasm_spark.datapipe import packing

    rows = [
        (1, "a", "w " * 1000), (2, "a", "w " * 1500), (3, "a", "w " * 100),
        (4, "b", "w " * 10),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: r for r in
           packing.pack_sequences(docs, target_tokens=2048).collect()}
    assert (got[1]["seq_id"], got[1]["offset_in_seq"]) == (0, 0)
    assert (got[2]["seq_id"], got[2]["offset_in_seq"]) == (0, 1000)
    # doc 3 starts at 2500 -> second sequence, offset 452
    assert (got[3]["seq_id"], got[3]["offset_in_seq"]) == (1, 452)
    assert (got[4]["seq_id"], got[4]["offset_in_seq"]) == (0, 0)  # new shard


def _single_window_pack(docs, target_tokens=2048):
    """The reference formulation of pack_sequences: one window per shard."""
    from pyspark.sql import Window

    from tesseract_wasm_spark.datapipe.textstats import WS_RE

    toks = F.size(F.split(F.trim(F.col("text")), WS_RE))
    w = Window.partitionBy("source").orderBy("doc_id")
    cum = F.sum(toks).over(w) - toks
    return sorted((tuple(r) for r in docs.select(
        "source", "doc_id", toks.alias("n_tokens"),
        F.floor(cum / target_tokens).alias("seq_id"),
        (cum % target_tokens).alias("offset_in_seq"),
    ).collect()), key=repr)


def test_pack_sequences_bucketed_prefix_matches_window(spark):
    """r06: the distributed prefix sum must assign identically to the
    single-window form even when ids span MANY 2^20-wide buckets (the
    multi-bucket path a bench-sized corpus never exercises)."""
    from tesseract_wasm_spark.datapipe import packing

    rows = [(i * (1 << 19) + 7, "s" + str(i % 3), "w " * (37 + i * 13))
            for i in range(24)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = sorted((tuple(r) for r in
                  packing.pack_sequences(docs, target_tokens=2048).collect()), key=repr)
    assert got == _single_window_pack(docs)


def test_pack_sequences_keeps_null_ids(spark):
    """A NULL doc_id on the numeric-id path keeps its row (its id bucket is
    NULL too, so the bucket join is null-safe) with the seq_id and offset
    of the single-window form, where NULL ids sort first."""
    from tesseract_wasm_spark.datapipe import packing

    rows = [(i * (1 << 19) + 7, "s" + str(i % 2), "w " * (900 + i * 13))
            for i in range(8)]
    rows += [(None, "s0", "w " * 1500), (None, "s1", "w " * 30)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = sorted((tuple(r) for r in
                  packing.pack_sequences(docs, target_tokens=2048).collect()), key=repr)
    assert len(got) == len(rows)
    assert got == _single_window_pack(docs)
    assert {r[1:] for r in got if r[1] is None} == {(None, 1500, 0, 0), (None, 30, 0, 0)}


def test_punct_count_matches_regex(spark):
    """r06: the translate-based punct count must equal the regex form for
    every input shape — ascii, unicode incl. supplementary planes, all five
    java \\s whitespace chars, empty and NULL."""
    from tesseract_wasm_spark.datapipe.textstats import _punct_count

    rows = [("plain words only",), ("héllo, wörld! ¿qué?",),
            ("tab\tnew\nline\x0b\x0c\rmix.,;:!?",), ("",), (None,),
            ("emoji \U0001f600 and \U0001d518\U0001d52b sup",),
            ("quote'd \"str\" &amp; <tag>",)]
    df = spark.createDataFrame(rows, "text string")
    diff = df.select(
        (F.size(F.regexp_extract_all("text", F.lit(r"[^A-Za-z0-9\s]"), 0))
         .eqNullSafe(_punct_count(F.col("text")))).alias("same")
    ).collect()
    assert all(r["same"] for r in diff), diff


def test_url_quality_prunes_payload_columns(spark, tmp_path):
    """The scale claim behind url_filters: screening reads ONLY the url
    column, so the parquet scan's ReadSchema must exclude text/payload —
    dropped rows never cost their bytes."""
    from tesseract_wasm_spark.datapipe import urlfilter

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "https://a.example.com/x", "BIGPAYLOAD" * 10)],
        "doc_id long, url string, text string",
    ).write.parquet(p)
    df = urlfilter.url_quality(spark.read.parquet(p))
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "text" not in scan[0], scan


def test_robots_parse_semantics():
    """RFC 9309: group selection (exact token beats *, groups not merged),
    longest-match with Allow winning ties, * wildcards, $ end anchor,
    prefix semantics, default allow."""
    from tesseract_wasm_spark.datapipe.robots import allowed, parse_robots

    txt = ("User-agent: *\nDisallow: /private/\nAllow: /private/pub/\n"
           "Disallow: /tmp\nDisallow: /*.json$\n\n"
           "User-agent: twsparkbot\nDisallow: /bot-only/\n")
    star = parse_robots(txt, agent="someone-else")
    bot = parse_robots(txt, agent="twsparkbot")
    assert not allowed("/private/x", star)
    assert allowed("/private/pub/x", star)      # longer Allow wins
    assert not allowed("/tmp-file", star)       # prefix semantics
    assert not allowed("/data/feed.json", star)  # wildcard + $ anchor
    assert allowed("/data/feed.jsonl", star)    # $ means end
    assert allowed("/private/x", bot)           # specific group REPLACES *
    assert not allowed("/bot-only/x", bot)
    assert allowed("/x", [])                    # no robots -> allowed


def test_robots_gate_relational(spark):
    """The broadcast-rules gate end to end: per-host verdicts incl. a
    deny-all host and a host with no robots.txt."""
    from tesseract_wasm_spark.datapipe.robots import robots_gate, robots_rules

    robots = spark.createDataFrame(
        [("a.example.com",
          "User-agent: *\nDisallow: /private/\nAllow: /private/pub/"),
         ("b.example.com", "User-agent: twsparkbot\nDisallow: /")],
        "host string, robots_txt string",
    )
    pages = spark.createDataFrame(
        [(1, "https://a.example.com/ok"),
         (2, "https://a.example.com/private/x"),
         (3, "https://a.example.com/private/pub/x"),
         (4, "https://b.example.com/anything"),
         (5, "https://norobots.example.com/x")],
        "doc_id long, url string",
    )
    got = {r["doc_id"]: r["allowed"]
           for r in robots_gate(pages, robots_rules(robots)).collect()}
    assert got == {1: True, 2: False, 3: True, 4: False, 5: True}
