"""Dedup operator properties beyond the oracle diff: the approximate
sketch variants (MinHash+LSH, SimHash) are validated against the exact
Jaccard join — subset + recall on the fixture's planted near-dups.
"""

from __future__ import annotations

import pytest

from mapreduce_project_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from mapreduce_project_spark.sources import load_table
from tests.conftest import SF_DIR


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_minhash_signatures_shape_and_determinism(spark):
    from mapreduce_project_spark.operators.dedup import minhash_signatures
    from mapreduce_project_spark.sources import load_table
    from tests.conftest import SF_DIR as _SF

    docs = load_table(spark, _SF, "documents").limit(50)
    sig = {r["id"]: list(r["sig"]) for r in minhash_signatures(docs, "doc_id", "text").collect()}
    assert all(len(s) == 64 for s in sig.values())
    again = {r["id"]: list(r["sig"]) for r in minhash_signatures(docs, "doc_id", "text").collect()}
    assert sig == again  # seeded hash family → run-to-run identical


def test_minhash_subset_and_recall(spark):
    # FULL recall pinned (not just >=0.9): the declared
    # `dedup_minhash_lsh` query hash-matches the exact quadratic SQL
    # oracle, which requires the banded candidates to cover every
    # >=0.8-Jaccard pair on the fixtures (measured exact at sf0.001,
    # sf0.01 and sf0.1; per-pair miss prob ~(1-0.8^4)^16 ≈ 2e-4)
    docs = load_table(spark, SF_DIR, "documents")
    exact = _pairs(jaccard_pairs(docs, "doc_id", "text", 0.8))
    mh = _pairs(minhash_lsh_pairs(docs, "doc_id", "text"))
    assert exact, "fixture should contain planted near-dup pairs"
    assert mh == exact, f"fp: {mh - exact} / missed: {exact - mh}"


def test_simhash_finds_planted_dups(spark):
    docs = load_table(spark, SF_DIR, "documents")
    exact = _pairs(jaccard_pairs(docs, "doc_id", "text", 0.9))
    sh = _pairs(simhash_pairs(docs, "doc_id", "text"))
    assert sh, "simhash should find at least the closest planted dups"
    # hamming<=3 on 64-bit simhash is a much stricter notion than
    # jaccard>=0.9; every simhash pair should be a true near-dup pair
    found = len(sh & exact) / len(sh)
    assert found >= 0.8, f"precision vs jaccard-0.9 pairs: {found} ({sh - exact})"


def test_passage_dedup_first_wins_and_reassembles(spark):
    from mapreduce_project_spark.operators.dedup import passage_dedup

    # 4-token passages; doc 1 and doc 2 share an identical passage —
    # doc 1 (lower id) keeps it, doc 2 loses it; doc 3 is all-duplicate
    # and must drop out of the output entirely
    boiler = "all rights reserved worldwide"
    df = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta"),
            (2, boiler + " epsilon zeta eta theta"),
            (3, boiler),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["text_deduped"], r["n_passages_kept"])
        for r in passage_dedup(df, "doc_id", "text", 4).collect()
    }
    assert out[1] == (boiler + " alpha beta gamma delta", 2)
    assert out[2] == ("epsilon zeta eta theta", 1)
    assert 3 not in out

    # within-document repetition also dedups (first occurrence wins)
    rep = spark.createDataFrame(
        [(7, "a b c d a b c d e f g h")], "doc_id long, text string"
    )
    row = passage_dedup(rep, "doc_id", "text", 4).collect()[0]
    assert row["text_deduped"] == "a b c d e f g h"
    assert row["n_passages_kept"] == 2


def test_prefix_filter_equals_quadratic_jaccard(spark):
    # the prefix-filtered AllPairs join must produce the IDENTICAL pair
    # set (ids AND jaccard values, bit-wise) as the quadratic
    # self-join — same semantics, scalable plan
    from mapreduce_project_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = load_table(spark, SF_DIR, "documents")
    exact = {
        (r["id_a"], r["id_b"], r["jac"])
        for r in jaccard_pairs(docs, "doc_id", "text", 0.8).collect()
    }
    fast = {
        (r["id_a"], r["id_b"], r["jac"])
        for r in prefix_filter_jaccard_pairs(docs, "doc_id", "text").collect()
    }
    assert fast == exact
    assert len(exact) > 0


def test_prefix_filter_on_identical_corpus(spark):
    # the adversarial hot-shingle case: every document identical, so
    # every shingle has maximal docfreq and every pair is a true
    # near-dup — the prefix filter must still produce the exact
    # all-pairs result (jac = 1.0) without error
    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = spark.range(12).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon zeta eta").alias("text"),
    )
    out = prefix_filter_jaccard_pairs(docs, "doc_id", "text").collect()
    assert len(out) == 12 * 11 // 2
    assert all(r["jac"] == 1.0 for r in out)


def test_incremental_crawl_index_read_only_and_equivalent(spark, tmp_path):
    # the incremental contract: (1) the persisted signature index is
    # READ, never rewritten — every index file is byte-identical after
    # the probe; (2) probing through the parquet round-trip yields the
    # exact same pair set as probing the in-memory index (signatures
    # and band keys survive persistence bit-for-bit); (3) the pair set
    # matches the one-shot two-sided join semantics
    import os

    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.dedup import (
        minhash_index_build,
        minhash_probe_pairs,
    )

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    crawl = docs.filter(F.col("doc_id") % 5 == 0)

    idx_path = str(tmp_path / "mh_index")
    minhash_index_build(corpus, "doc_id", "text", 3, 64).write.parquet(idx_path)

    def fingerprint():
        out = {}
        for root, _, files in os.walk(idx_path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = fingerprint()
    stored = spark.read.parquet(idx_path)
    via_store = {
        (r["new_id"], r["index_id"], round(r["jac"], 9))
        for r in minhash_probe_pairs(stored, crawl, "doc_id", "text").collect()
    }
    assert fingerprint() == before, "probe rewrote the existing index"
    in_mem = {
        (r["new_id"], r["index_id"], round(r["jac"], 9))
        for r in minhash_probe_pairs(
            minhash_index_build(corpus, "doc_id", "text", 3, 64), crawl, "doc_id", "text"
        ).collect()
    }
    assert via_store == in_mem and via_store
    # every pair really straddles the corpus/crawl split
    for new_id, index_id, jac in via_store:
        assert new_id % 5 == 0 and index_id % 5 != 0 and jac >= 0.8


def test_probe_config_drift_is_hard_error(spark):
    # ADVICE r4: an index built with one n_perm probed with another
    # must FAIL LOUDLY, not silently degrade recall via out-of-range
    # element_at; and a bands value that doesn't divide n_perm (which
    # would silently drop the trailing signature values from banding)
    # is a config error.
    import pytest
    from pyspark.sql import functions as F

    from mapreduce_project_spark.operators.dedup import (
        minhash_index_build,
        minhash_probe_pairs,
    )

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0).limit(20)
    crawl = docs.filter(F.col("doc_id") % 5 == 0).limit(5)

    idx32 = minhash_index_build(corpus, "doc_id", "text", 3, 32)
    with pytest.raises(Exception, match="n_perm"):
        minhash_probe_pairs(idx32, crawl, "doc_id", "text", 16).collect()

    idx64 = minhash_index_build(corpus, "doc_id", "text", 3, 64)
    with pytest.raises(ValueError, match="multiple of bands"):
        minhash_probe_pairs(idx64, crawl, "doc_id", "text", 24)


def test_probe_dup_heavy_crawl_verifies_every_pair(spark):
    # ADVICE r4: the verify step must not replicate a crawl doc's
    # shingle set once per candidate pair. Plant a dup-heavy shape —
    # ONE crawl doc near-identical to MANY index docs — and check the
    # probe returns every pair exactly (correctness under the shape
    # that used to blow up the broadcast).
    from mapreduce_project_spark.operators.dedup import (
        minhash_index_build,
        minhash_probe_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "quiet music under pale evening light near the old stone bridge"
    )
    corpus = spark.createDataFrame(
        [(i, base) for i in range(60)], "doc_id long, text string"
    )
    crawl = spark.createDataFrame([(1000, base)], "doc_id long, text string")
    idx = minhash_index_build(corpus, "doc_id", "text", 3, 64)
    got = {
        (r["new_id"], r["index_id"])
        for r in minhash_probe_pairs(idx, crawl, "doc_id", "text").collect()
    }
    assert got == {(1000, i) for i in range(60)}


def test_exact_substring_dedup_planted(spark):
    # Lee-et-al-style removal semantics on a planted corpus (K=4):
    # corpus-wide first occurrence kept; an exact copy is fully cut;
    # a doc embedding a duplicated run loses exactly the covered
    # tokens; in-document repeats cut the later run; short docs pass
    # through untouched
    from mapreduce_project_spark.operators.dedup import exact_substring_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha bravo carol delta echo fox golf hotel"),
            (2, "alpha bravo carol delta echo fox golf hotel"),  # exact copy
            (3, "xray yankee alpha bravo carol delta zulu walt"),  # embeds run
            (4, "tiny doc only"),  # < K tokens
            (5, "papa quebec romeo sierra papa quebec romeo sierra"),  # in-doc
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: (r["text_clean"], r["n_kept"], r["n_removed"])
        for r in exact_substring_dedup(docs, "doc_id", "text", 4).collect()
    }
    assert out[1] == ("alpha bravo carol delta echo fox golf hotel", 8, 0)
    assert out[2] == ("", 0, 8)
    assert out[3] == ("xray yankee zulu walt", 4, 4)
    assert out[4] == ("tiny doc only", 3, 0)
    assert out[5] == ("papa quebec romeo sierra", 4, 4)


def test_doc_novelty_key_guard_is_hard_error(spark):
    # round-5 ADVICE: doc_novelty_scores built its first-occurrence key
    # as id*1e6+pos with NO bounds guard — an out-of-range doc_id
    # silently collided keys (and the oracle, doing the same
    # arithmetic, still hash-matched — both wrong). Now it must be a
    # hard error, same key_guard pattern as exact_substring_dedup.
    import pytest

    import mapreduce_project_spark.queries_registry  # noqa: F401 — must precede plans.*
    from mapreduce_project_spark.plans.text_queries import doc_novelty_frame

    ok = spark.createDataFrame(
        [(1, "alpha bravo carol delta echo fox golf hotel india")],
        "doc_id long, text string",
    )
    assert doc_novelty_frame(ok).count() == 1

    bad = spark.createDataFrame(
        [(9_000_000_000_001, "alpha bravo carol delta echo fox golf hotel")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="out of bounds"):
        doc_novelty_frame(bad).collect()


def test_containment_pairs_planted_asymmetry(spark):
    # A is fully pasted into B (plus B's own long tail): containment
    # A->B = 1.0 qualifies; B->A fails (B's set is much larger than
    # 0.7 coverage of it allows); Jaccard(A,B) is LOW — the case the
    # symmetric C2 family cannot flag. C and D share nothing.
    from mapreduce_project_spark.operators.dedup import containment_pairs

    a_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b_text = a_text + " " + " ".join(f"filler{'x' * (i % 3)}word{i} tail{i} mid{i}" for i in range(40))
    rows = [
        (1, a_text),
        (2, b_text),
        (3, "one two three four five six seven eight nine ten"),
        (4, "red orange yellow green blue indigo violet pink brown black"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["contained_id"], r["container_id"]): r
        for r in containment_pairs(df, "doc_id", "text").collect()
    }
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r["n_shared"] == r["sz_contained"]  # full containment
    assert r["sz_container"] > r["sz_contained"] * 2
    assert (2, 1) not in got  # asymmetry
    assert all(k == (1, 2) for k in got)  # C/D uninvolved
    # and the Jaccard twin would NOT pair them at 0.8
    jac = r["n_shared"] / (r["sz_contained"] + r["sz_container"] - r["n_shared"])
    assert jac < 0.5


def test_lsh_auto_bits_scales_with_corpus_and_keeps_planted_recall(spark):
    # n_bits="auto" applies the bits-grow-with-logN rule: ~2k vectors
    # -> 8 bits (the fixed default), and the planted high-threshold
    # clusters are still found (recall 1.0 at cos 0.95, same pin as
    # the fixed-bits test).
    import math

    from mapreduce_project_spark.operators.dedup import (
        embedding_dedup_clusters_lsh,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    want_bits = max(8, min(24, math.ceil(math.log2(n / 8))))
    # plant two tight clusters far above threshold
    import numpy as np

    rng = np.random.default_rng(3)
    base1 = rng.normal(size=64); base1 /= np.linalg.norm(base1)
    base2 = rng.normal(size=64); base2 /= np.linalg.norm(base2)
    planted = []
    for i, b in enumerate((base1, base2)):
        for j in range(3):
            v = b + rng.normal(scale=0.01, size=64)
            planted.append((1000000 + i * 10 + j, [float(x) for x in v], 99))
    pl = spark.createDataFrame(
        planted, "vec_id long, embedding array<float>, label int"
    )
    full = emb.select("vec_id", "embedding", "label").unionByName(pl)
    out = embedding_dedup_clusters_lsh(
        full, "vec_id", "embedding", 0.95, n_bits="auto", dim=64
    )
    got = {r["vec_id"]: r["rep_id"] for r in out.collect()}
    for i in range(2):
        ids = [1000000 + i * 10 + j for j in range(3)]
        present = [got.get(x) for x in ids if x in got]
        assert len(present) == 3 and len(set(present)) == 1, (i, present)
    assert want_bits >= 8  # the rule engaged without error


def test_snm_finds_prefix_sorted_dups_and_documents_its_miss_class(spark):
    # D209 window semantics: same-opening near-dups land adjacent in
    # the sort and are found; a changed FIRST token pushes the twin
    # outside the rank window (the documented SNM miss class that
    # MinHash exists for) even though its true Jaccard clears 0.8.
    from mapreduce_project_spark.operators.dedup import (
        minhash_lsh_pairs,
        sorted_neighborhood_pairs,
    )

    body = " ".join(f"tok{chr(97 + i)}{chr(97 + j)}" for i in range(6) for j in range(5))
    docs = [
        (1, "alphaopen " + body),
        (2, "alphaopen " + body + " tail"),
        (3, "bbbopen " + body),          # same body...
        (4, "zzzopen " + body),          # ...but sorts far from doc 3
    ]
    # fillers between 'b...' and 'z...' so ranks 3..4 are > window apart
    for i in range(6):
        docs.append((10 + i, f"m{chr(97 + i)}filler " + " ".join(
            f"u{chr(97 + i)}{chr(97 + j)}q" for j in range(20))))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"])
        for r in sorted_neighborhood_pairs(df, "doc_id", "text").collect()
    }
    assert (1, 2) in got
    assert (3, 4) not in got, "changed-opening pair must be the SNM miss class"
    # the missed pair IS a true near-dup — MinHash catches it
    mh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, "doc_id", "text").collect()
    }
    assert (3, 4) in mh


def test_canonical_map_quality_beats_min_id(spark, tmp_path):
    # D210: the canonical doc is the LONGEST (token count), not the
    # min id (D27's rep convention); ties break to min id; singletons
    # map to themselves.
    import duckdb

    import mapreduce_project_spark.queries_registry as R
    from tests.conftest import rows_of

    base = [f"w{chr(97 + i)}{chr(97 + j)}" for i in range(8) for j in range(5)]
    tie = [f"t{chr(97 + i)}{chr(97 + j)}" for i in range(6) for j in range(5)]
    docs = [
        (10, " ".join(base)),                     # 40 tokens
        (11, " ".join(base + ["extraa"])),        # 41
        (12, " ".join(base + ["extraa", "extrab"])),  # 42 -> canonical
        (20, " ".join(tie)),                      # 30 tokens, tie
        (21, " ".join(tie[:-2] + ["xx", "yy"])),  # 30 tokens, tie -> 20 wins
        (30, " ".join(f"solo{chr(97 + i)}{chr(97 + j)}" for i in range(5) for j in range(5))),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))

    got = R.ALL_QUERIES["dedup_canonical_map"](spark, str(tmp_path)).toPandas()
    m = {r["doc_id"]: (r["canon_id"], r["cluster_size"], r["is_canonical"])
         for _, r in got.iterrows()}
    assert m[10] == (12, 3, 0) and m[11] == (12, 3, 0) and m[12] == (12, 3, 1)
    assert m[20] == (20, 2, 1) and m[21] == (20, 2, 0)
    assert m[30] == (30, 1, 1)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = con.sql(R.ALL_ORACLES["dedup_canonical_map"]).df()
    assert rows_of(got) == rows_of(want)


def test_winnowing_finds_shared_paragraph_across_positions(spark, tmp_path):
    # D212's guarantee: a shared run >= w+k-1 normalized chars yields
    # shared fingerprints NO MATTER where it sits in each document.
    # Plant one ~90-char paragraph near the START of doc 1 and near
    # the END of doc 2, inside otherwise-unrelated text; doc 3 is
    # unrelated noise.
    import duckdb

    import mapreduce_project_spark.queries_registry as R
    from tests.conftest import rows_of

    para = ("the shared boilerplate paragraph that travels between "
            "documents verbatim and must be fingerprinted")
    def filler(seed, n):
        return " ".join(
            f"f{chr(97 + (seed + i) % 26)}{chr(97 + (seed + 3 * i) % 26)}x{chr(97 + i % 26)}"
            for i in range(n)
        )
    docs = [
        (1, para + " " + filler(0, 30)),
        (2, filler(7, 30) + " " + para),
        (3, filler(13, 40)),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))

    got = R.ALL_QUERIES["text_winnow_pairs"](spark, str(tmp_path)).toPandas()
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"] for _, r in got.iterrows()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 3
    assert (1, 3) not in pairs and (2, 3) not in pairs

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = con.sql(R.ALL_ORACLES["text_winnow_pairs"]).df()
    assert rows_of(got) == rows_of(want)


def test_lsh_signs_validated_and_auto_count_skipped(spark, tmp_path):
    # ADVICE low: signs=[] used to IndexError at signs[0]; ragged or
    # wrong-dim planes surfaced as opaque numpy broadcast errors inside
    # the executor UDF; and n_bits='auto' ran a df.count() whose result
    # was discarded when signs was provided.
    from mapreduce_project_spark.operators.dedup import (
        embedding_dedup_clusters_lsh,
    )
    from mapreduce_project_spark.operators.similarity import rademacher_signs_pc

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    with pytest.raises(ValueError, match="non-empty"):
        embedding_dedup_clusters_lsh(df, "vec_id", "embedding", 0.9, signs=[])
    with pytest.raises(ValueError, match="non-empty"):
        embedding_dedup_clusters_lsh(df, "vec_id", "embedding", 0.9, signs=[[]])
    ragged = [[[1, -1, 1, -1]] * 4, [[1, -1, 1, -1]] * 3]
    with pytest.raises(ValueError, match="bit width"):
        embedding_dedup_clusters_lsh(df, "vec_id", "embedding", 0.9, signs=ragged)
    wrong_dim = [[[1, -1, 1]] * 4]  # planes of length 3, dim=4 vectors
    with pytest.raises(ValueError, match="plane length"):
        embedding_dedup_clusters_lsh(
            df, "vec_id", "embedding", 0.9, dim=4, signs=wrong_dim
        )

    # explicit signs + n_bits='auto' must NOT run the auto-width COUNT
    df.count = lambda: (_ for _ in ()).throw(
        AssertionError("auto-width count must be skipped when signs is given")
    )
    out = embedding_dedup_clusters_lsh(
        df, "vec_id", "embedding", 0.9, n_bits="auto",
        dim=4, signs=rademacher_signs_pc(8, 4, 4),
    ).collect()
    # vectors 0 and 1 are near-identical -> one 2-cluster
    assert {(r["vec_id"], r["rep_id"], r["cluster_size"]) for r in out} == {
        (0, 0, 2),
        (1, 0, 2),
    }
